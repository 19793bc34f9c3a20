"""Property-based check of the blocked pair co-occurrence operator
(operators/pairs.py) against a brute-force Python count.

Random (group, member) tables: groups of every size from empty to two
past the cap, member ids shared across groups, and the empty table.  The
operator must keep exactly the groups of at most ``_CAP`` members and
count, for every member pair a < b, the kept groups holding both — with
AQE on (pair exchange at 4x width) and off (1x)."""

from collections import Counter
from itertools import combinations

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.operators.pairs import (
    cap_groups,
    pair_counts,
    partition_groups,
)

from conftest import arrow_frame, with_conf

_CAP = 3

groups_st = st.dictionaries(
    st.integers(0, 5), st.sets(st.integers(0, 7), max_size=_CAP + 2), max_size=6
)


def _bruteforce(groups):
    out = Counter()
    for members in groups.values():
        if len(members) <= _CAP:
            out.update(combinations(sorted(members), 2))
    return dict(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(groups_st)
@example({})
@example({0: {1, 2, 3}, 1: {1, 2, 3, 4}, 2: {2, 3}})
def test_pair_counts_match_bruteforce(spark, groups):
    rows = [(g, m) for g, members in groups.items() for m in members]
    df = arrow_frame(spark, rows, g=pa.int64(), m=pa.int64())
    want = _bruteforce(groups)
    for aqe in ("true", "false"):
        with with_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
            capped = cap_groups(partition_groups(df, "g"), "g", _CAP)
            got = {
                (r.a, r.b): r.n
                for r in pair_counts(capped, "g", "m", ("a", "b"), "n").collect()
            }
        assert got == want, aqe
