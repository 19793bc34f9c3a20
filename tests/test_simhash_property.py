"""Property-based check of dedup_simhash_pairs' pigeonhole blocking
(llm._simhash_pairs) against brute-force Hamming distance over all pairs.

Random 60-bit signatures, each document a base signature with 0-4 of its
bits flipped, so duplicate signatures, neighbours within the threshold
and neighbours just past it are all common; the empty table too.  The
blocked pairs must be exactly the pairs doc_a < doc_b at Hamming
distance <= SIMHASH_HAMMING, each once, with AQE on and off."""

from itertools import combinations

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.queries import llm

from conftest import arrow_frame, with_conf

_TOP = (1 << llm.SIMHASH_BITS) - 1


@st.composite
def signatures_st(draw):
    """Up to 10 (doc_id, simhash) rows with distinct, unsorted doc ids."""
    bases = draw(st.lists(st.integers(0, _TOP), min_size=1, max_size=3))
    n = draw(st.integers(0, 10))
    ids = draw(st.lists(st.integers(0, 10_000), min_size=n, max_size=n, unique=True))
    rows = []
    for doc_id in ids:
        sig = draw(st.sampled_from(bases))
        flips = draw(st.lists(st.integers(0, llm.SIMHASH_BITS - 1), max_size=4, unique=True))
        for bit in flips:
            sig ^= 1 << bit
        rows.append((doc_id, sig))
    return rows


def _bruteforce(rows):
    return sorted(
        (x, y, bin(sx ^ sy).count("1"))
        for (x, sx), (y, sy) in combinations(sorted(rows), 2)
        if bin(sx ^ sy).count("1") <= llm.SIMHASH_HAMMING
    )


#: One base and its neighbours: a duplicate (shares all four blocks), 3
#: flips in three blocks (shares only the last), 3 flips at block edges,
#: 4 flips, one per block (shares none, distance 4) and 4 flips in one
#: block (distance 4, shares three).
_BASE = 0x0ABC_DEF0_1234_567
_EDGES = [
    (5, _BASE),
    (3, _BASE),
    (9, _BASE ^ (1 << 0) ^ (1 << 20) ^ (1 << 40)),
    (1, _BASE ^ (1 << 14) ^ (1 << 15) ^ (1 << 44)),
    (7, _BASE ^ (1 << 0) ^ (1 << 15) ^ (1 << 30) ^ (1 << 59)),
    (2, _BASE ^ (0b1111 << 3)),
]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(signatures_st(), st.sampled_from(["true", "false"]))
@example([], "true")
@example([], "false")
@example(_EDGES, "true")
@example(_EDGES, "false")
@example([(4, _TOP), (2, _TOP), (8, 0), (6, 0)], "false")
def test_simhash_pairs_match_bruteforce(spark, rows, aqe):
    d = arrow_frame(spark, rows, doc_id=pa.int64(), simhash=pa.int64())
    with with_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
        got = llm._simhash_pairs(d).collect()
    assert sorted((r.doc_a, r.doc_b, r.hamming) for r in got) == _bruteforce(rows)
