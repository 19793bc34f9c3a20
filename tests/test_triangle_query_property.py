"""Property-based check of graph_triangle_counts on both sides of its size
gate against a brute-force Python count of the co-purchase triangles.

Random small (order, part) tables with duplicate rows, NULL orders and
NULL parts, and explicit tables for the edges of the semantics: the empty
table, one order, pairs shared by exactly 1 and 2 orders, and baskets of
exactly _TRI_MAX_BASKET and _TRI_MAX_BASKET + 1 distinct rows (a NULL part
counting toward the size).  The fused kernel (ceiling at its default) and
the distributed plan (ceiling 0) must both return exactly the per-part
triangle counts of the graph whose edges are the part pairs shared by at
least _TRI_MIN_SHARED orders of at most _TRI_MAX_BASKET distinct rows."""

from collections import Counter
from itertools import combinations

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.queries import graph

from conftest import arrow_frame, spy_calls

_DEFAULT_CEILING = graph._CO_PURCHASE_KERNEL_MAX_ROWS
_CAP = graph._TRI_MAX_BASKET

rows_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(1, 6)),
        st.one_of(st.none(), st.integers(0, 7)),
    ),
    max_size=40,
)


def _bruteforce(rows):
    baskets = {}
    for o, p in set(rows):
        if o is not None:
            baskets.setdefault(o, set()).add(p)
    shared = Counter()
    for members in baskets.values():
        if len(members) <= _CAP:
            shared.update(combinations(sorted(p for p in members if p is not None), 2))
    adj = {}
    for (u, v), n in shared.items():
        if n >= graph._TRI_MIN_SHARED:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    out = Counter()
    for u in adj:
        for v in adj[u]:
            if v > u:
                for w in adj[u] & adj[v]:
                    if w > v:
                        out.update((u, v, w))
    return dict(out)


def _check(spark, monkeypatch, rows, ceiling):
    pu = arrow_frame(spark, rows, o=pa.int64(), p=pa.int64())
    with monkeypatch.context() as m:
        m.setattr(graph, "_CO_PURCHASE_KERNEL_MAX_ROWS", ceiling)
        calls = spy_calls(m, graph, "_co_purchase_triangles_arrow")
        got = graph._co_purchase_triangles(pu, len(rows)).collect()
    assert {r.part: r.triangles for r in got} == _bruteforce(rows)
    assert bool(calls) == (ceiling > 0)


def _settings(n):
    return settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


def _basket(o, parts):
    return [(o, p) for p in parts]


#: Parts 1-2-3 form a triangle: each pair is shared by orders 1 and 2.  The
#: pairs of 3-4-5 are shared by order 3 alone, so they form no edge; 2-4 is
#: shared by orders 4 and 5, but 2-4-3 lacks the 3-4 edge.
_SHARED_1_AND_2 = (
    _basket(1, [1, 2, 3]) + _basket(2, [3, 2, 1]) + _basket(3, [3, 4, 5])
    + _basket(4, [2, 4]) + _basket(5, [4, 2])
)
#: Orders 1-2 hold exactly _CAP distinct parts, so their clique's
#: triangles count; orders 3-4 hold _CAP + 1 and are dropped.  Orders 5-6
#: hold _CAP - 1 parts plus a NULL part (kept); orders 7-8 hold _CAP parts
#: plus a NULL part, which makes them one too many (dropped).
_CAP_EDGES = (
    _basket(1, range(_CAP)) + _basket(2, range(_CAP))
    + _basket(3, range(100, 101 + _CAP)) + _basket(4, range(100, 101 + _CAP))
    + _basket(5, [*range(200, 199 + _CAP), None])
    + _basket(6, [*range(200, 199 + _CAP), None])
    + _basket(7, [*range(300, 300 + _CAP), None])
    + _basket(8, [*range(300, 300 + _CAP), None])
)
#: Duplicate rows, NULL orders (never pair, though their parts would form
#: a triangle) and NULL parts (never pair).
_NULLS_AND_DUPS = (
    _basket(1, [1, 1, 2, None, 3, 3]) + _basket(2, [1, 2, None, None])
    + _basket(None, [1, 2, 3, 3]) * 2 + _basket(3, [2, 3, None])
    + _basket(4, [None]) + [(None, None)]
)


@_settings(20)
@given(rows_st)
@example([])
@example(_basket(1, [1, 2, 3, 4]))
@example(_SHARED_1_AND_2)
@example(_CAP_EDGES)
@example(_NULLS_AND_DUPS)
def test_triangle_query_matches_bruteforce(spark, monkeypatch, rows):
    _check(spark, monkeypatch, rows, _DEFAULT_CEILING)


@_settings(6)
@given(rows_st)
@example([])
@example(_SHARED_1_AND_2)
@example(_CAP_EDGES)
@example(_NULLS_AND_DUPS)
def test_triangle_query_matches_bruteforce_at_ceiling_0(spark, monkeypatch, rows):
    _check(spark, monkeypatch, rows, 0)
