"""Property-based check of dedup_minhash_lsh on both sides of its size gate
against a brute-force Python MinHash + exact Jaccard.

Random small corpora built as edits of up to three base texts over a
six-word vocabulary, so that exact duplicates, near duplicates and band
collisions are common: NULL, ``''``, 0-13-token texts, doubled spaces, the
empty table and a single document.
The kernel (ceiling at its default) and the distributed plan (ceiling 0)
must both return exactly the pairs that share a 4-row band of the 16
permutation minima, have Jaccard >= JACCARD_THRESHOLD after HALF_UP
rounding to 4 places, and never involve a NULL text."""

from decimal import ROUND_HALF_UP, Decimal
from hashlib import md5
from itertools import combinations

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.queries import llm

from conftest import arrow_frame, spy_calls

_DEFAULT_CEILING = llm._MINHASH_KERNEL_MAX_DOCS

_WORDS = ["a", "b", "c", "d", "e", "f", ""]


@st.composite
def corpus_st(draw):
    """Up to 8 (doc_id, text) rows; each text is NULL or a base text kept
    as is, with one word appended, or with one word replaced."""
    bases = draw(
        st.lists(st.lists(st.sampled_from(_WORDS), max_size=12), min_size=1, max_size=3)
    )
    docs = []
    for doc_id in range(1, draw(st.integers(0, 8)) + 1):
        toks = list(draw(st.sampled_from(bases)))
        edit = draw(st.sampled_from(["keep", "null", "append", "replace"]))
        if edit == "null":
            docs.append((doc_id, None))
            continue
        if edit == "append":
            toks.append(draw(st.sampled_from(_WORDS)))
        elif edit == "replace" and toks:
            toks[draw(st.integers(0, len(toks) - 1))] = draw(st.sampled_from(_WORDS))
        docs.append((doc_id, " ".join(toks)))
    return docs


#: Pairs that share a band bucket: two below the threshold (Jaccard 1/3
#: and 2/3), which verification must drop, one at exactly 4/5, which it
#: keeps, and one at 5/6, kept as 0.8333 after rounding.
_BAND_PAIRS = [
    (1, "b a e c a e"),
    (2, "b f e c a e"),
    (3, "e e d f b b e"),
    (4, "b e d f b b e"),
    (5, "a b c d e f a"),
    (6, "a b c d e f a b"),
    (7, "c d e f a b"),
    (8, "c d e f a b a"),
]


def _shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i - 1 : i + 2]) for i in range(1, max(len(toks) - 2, 1) + 1)}


def _signature(shingles):
    hashes = [int(md5(s.encode()).hexdigest()[:15], 16) % llm.P for s in shingles]
    return [min((a * h + b) % llm.P for h in hashes) for a, b in llm.PERMS]


def _bruteforce(docs):
    sets = {i: _shingles(t) for i, t in docs if t is not None}
    sigs = {i: _signature(s) for i, s in sets.items()}
    out = {}
    for x, y in combinations(sorted(sets), 2):
        if not any(
            sigs[x][b : b + llm.BAND_ROWS] == sigs[y][b : b + llm.BAND_ROWS]
            for b in range(0, llm.N_PERMS, llm.BAND_ROWS)
        ):
            continue
        c = len(sets[x] & sets[y])
        jac = Decimal(repr(c / (len(sets[x]) + len(sets[y]) - c))).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
        if jac >= Decimal(str(llm.JACCARD_THRESHOLD)):
            out[(x, y)] = float(jac)
    return out


def _check(spark, monkeypatch, docs, ceiling):
    d = arrow_frame(spark, docs, doc_id=pa.int64(), text=pa.string())
    with monkeypatch.context() as m:
        m.setattr(llm, "_MINHASH_KERNEL_MAX_DOCS", ceiling)
        calls = spy_calls(m, llm, "_minhash_pairs_arrow")
        rows = llm._minhash_pairs(d, len(docs)).collect()
    assert {(r.doc_a, r.doc_b): r.jaccard for r in rows} == _bruteforce(docs)
    assert bool(calls) == (ceiling > 0)


def _settings(n):
    return settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


@_settings(8)
@given(corpus_st())
@example([])
@example([(7, "a b c d")])
@example([(1, "a b c d"), (2, None), (3, ""), (4, ""), (5, None)])
@example([(1, "a b c d e"), (2, "a b c d e"), (3, "a b"), (4, "a b"), (5, "a")])
@example(_BAND_PAIRS)
def test_minhash_pairs_match_bruteforce(spark, monkeypatch, docs):
    _check(spark, monkeypatch, docs, _DEFAULT_CEILING)


@_settings(4)
@given(corpus_st())
@example([])
@example([(1, "a b c d"), (2, None), (3, ""), (4, ""), (5, None)])
@example(_BAND_PAIRS)
def test_minhash_pairs_match_bruteforce_at_ceiling_0(spark, monkeypatch, docs):
    _check(spark, monkeypatch, docs, 0)
