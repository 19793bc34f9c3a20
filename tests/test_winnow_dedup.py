"""Winnowing fingerprint dedup: the shared-span guarantee, concretely.

Schleimer et al. (SIGMOD 2003) theorem: with k-gram hashes and window w,
any substring shared verbatim by two documents with length >= k + w - 1
selects at least one identical fingerprint in both — regardless of where
the span sits in either document (selection is content-local).  These
tests construct adversarial alignments (span at head/middle/tail, docs of
different lengths, random filler) and assert detection; and assert the
converse sanity that disjoint-alphabet documents share nothing.
"""

import random
import string

import pytest

from datafusion_parallelism_spark.queries import llm
from datafusion_parallelism_spark.queries.llm import (
    WINNOW_K,
    WINNOW_W,
    winnow_fingerprints,
    winnow_pair_counts,
)

GUARANTEE_LEN = WINNOW_K + WINNOW_W - 1  # 34 chars


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _shared(spark, texts):
    fp = winnow_fingerprints(_docs_df(spark, texts))
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    return by_doc


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("placement", ["head", "middle", "tail"])
def test_guaranteed_span_always_detected(spark, seed, placement):
    rng = random.Random(seed)
    span = "".join(rng.choice(string.ascii_lowercase) for _ in range(GUARANTEE_LEN))

    def filler(n):
        return "".join(rng.choice(string.ascii_uppercase) for _ in range(n))

    if placement == "head":
        a, b = span + filler(80), filler(200) + span
    elif placement == "middle":
        a, b = filler(37) + span + filler(61), filler(113) + span + filler(11)
    else:
        a, b = filler(150) + span, span + filler(45)

    by_doc = _shared(spark, [a, b])
    assert by_doc[0] & by_doc[1], (
        f"span of guarantee length {GUARANTEE_LEN} at {placement} missed"
    )


def test_disjoint_alphabets_share_nothing(spark):
    rng = random.Random(7)
    a = "".join(rng.choice(string.ascii_lowercase) for _ in range(300))
    b = "".join(rng.choice(string.digits) for _ in range(300))
    by_doc = _shared(spark, [a, b])
    assert not (by_doc[0] & by_doc[1])


def test_fingerprint_density_near_two_over_w_plus_one(spark):
    """Expected winnowing density is 2/(w+1) of gram positions (paper §4);
    allow a generous band to keep the test noise-proof."""
    rng = random.Random(3)
    text = "".join(rng.choice(string.ascii_lowercase) for _ in range(2000))
    by_doc = _shared(spark, [text])
    n_positions = len(text) - WINNOW_K + 1
    density = len(by_doc[0]) / n_positions
    expected = 2 / (WINNOW_W + 1)
    assert 0.5 * expected < density < 2.0 * expected


def _reference_fingerprints(text, k, w):
    """Unchunked pure-Python winnowing reference: md5-based gram hashes
    mirroring _phash, per-window minima (trailing windows shrink at the
    doc tail), distinct."""
    from hashlib import md5

    if text is None:
        return set()
    n = len(text) - k + 1
    if n <= 0:
        return set()
    hs = [
        int(md5(text[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    return {min(hs[i : i + w]) for i in range(n)}


def test_chunked_equals_unchunked_reference(spark, monkeypatch):
    """The chunked window evaluation must be OUTPUT-IDENTICAL to whole-doc
    winnowing.  chunk=16 with 300-char docs forces ~18 chunk boundaries per
    doc, exercising the borrowed-gram overlap on every boundary; the
    default chunk holds every doc whole.  The corpus also holds NULL,
    empty, shorter-than-K and exactly-K texts, and non-ASCII ones with an
    astral character: Spark's ``length`` and Python slices both count
    code points."""
    rng = random.Random(11)
    texts = [None, "", "z" * (WINNOW_K - 1), "q" * WINNOW_K]
    for n in (WINNOW_K, WINNOW_K + 1, 40, 97, 300, 301):
        for alphabet in ("ab", string.ascii_lowercase, "aé漢😀"):  # "ab": many ties
            texts.append("".join(rng.choice(alphabet) for _ in range(n)))
    df = _docs_df(spark, texts)
    for chunk in (16, llm.WINNOW_CHUNK):
        monkeypatch.setattr(llm, "WINNOW_CHUNK", chunk)
        by_doc = {}
        for r in winnow_fingerprints(df).collect():
            by_doc.setdefault(r.doc_id, set()).add(r.h)
        for i, t in enumerate(texts):
            want = _reference_fingerprints(t, WINNOW_K, WINNOW_W)
            assert by_doc.get(i, set()) == want, (
                f"doc {i} ({t!r:.40}): chunk={chunk} != unchunked reference"
            )


def test_python_phash_equals_spark_phash(spark):
    """The workers' _phash_str is bit-equal to the SQL _phash column."""
    from pyspark.sql import functions as F

    words = ["", "a", "shingle of three", "aé漢😀", "😀" * 30, "x" * 1000]
    rows = (
        spark.createDataFrame([(w,) for w in words], "s string")
        .select("s", llm._phash(F.col("s")).alias("h"))
        .collect()
    )
    assert {r.s: r.h for r in rows} == {w: llm._phash_str(w) for w in words}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_df_ceiling_preserves_guarantee_below_ceiling(spark, seed):
    """Stop-fingerprint cap semantics (round 6): a span shared by exactly
    TWO documents (every selected fingerprint has df=2 <= ceiling) must
    still be detected even when the corpus also carries a boilerplate
    passage shared by MORE than `ceiling` documents — the cap may only
    drop the boilerplate's fingerprints, never the rare span's."""
    rng = random.Random(seed)
    span = "".join(rng.choice(string.ascii_lowercase) for _ in range(120))
    boiler = "".join(rng.choice(string.ascii_lowercase) for _ in range(120))
    ceiling = 4

    def filler(n):
        return "".join(rng.choice(string.ascii_uppercase) for _ in range(n))

    # docs 0,1 share `span` (df=2 for its fps); docs 0..7 all carry
    # `boiler` (df=8 > ceiling=4 for its fps).
    texts = [
        filler(30) + span + filler(20) + boiler,
        boiler + filler(55) + span,
    ] + [filler(rng.randrange(10, 60)) + boiler + filler(15) for _ in range(6)]
    fp = winnow_fingerprints(_docs_df(spark, texts))
    pairs = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_pair_counts(fp, ceiling=ceiling).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_pair_counts(fp, ceiling=10**9).collect()
    }
    # The rare span (120 chars >> k+w-1) selects multiple df=2 fingerprints;
    # the (0,1) pair must survive the cap with a healthy count.
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2, pairs
    # Boilerplate-only pairs (docs 2..7) must have their BULK suppressed:
    # the boiler interior selects identical fingerprints in all 8 carriers
    # (df=8 > ceiling -> dropped); only O(1) context-dependent EDGE
    # fingerprints (window minima mixing boiler and doc-specific filler,
    # selected in < ceiling docs) may survive — legitimately, since a
    # fingerprint's df IS its selection count, the exact stop-fingerprint
    # semantics.  Assert every such pair lost most of its count and sits
    # below the report threshold WINNOW_T=8.
    for p, n_uncapped in uncapped.items():
        if p[0] >= 2 and p[1] >= 2:
            n_capped = pairs.get(p, 0)
            assert n_capped < 8 and n_capped <= n_uncapped - 5, (
                f"boilerplate pair {p}: capped={n_capped} uncapped={n_uncapped}"
            )


def test_df_ceiling_counts_unchanged_below_ceiling(spark):
    """For a corpus where EVERY fingerprint's df is <= ceiling, the capped
    pair counts must be bit-identical to the uncapped ones."""
    rng = random.Random(42)
    span = "".join(rng.choice(string.ascii_lowercase) for _ in range(80))
    texts = []
    for i in range(6):
        pre = "".join(rng.choice(string.ascii_uppercase) for _ in range(20 + 7 * i))
        post = "".join(rng.choice(string.digits) for _ in range(35))
        texts.append(pre + (span if i < 3 else "") + post)
    fp = winnow_fingerprints(_docs_df(spark, texts))
    capped = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_pair_counts(fp, ceiling=6).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_pair_counts(fp, ceiling=10**9).collect()
    }
    assert capped == uncapped and (0, 1) in capped


def test_guaranteed_span_detected_across_chunk_boundary(spark, monkeypatch):
    """A guarantee-length span straddling a chunk boundary in ONE doc and
    sitting mid-chunk in the other must still share a fingerprint."""
    rng = random.Random(13)
    span = "".join(rng.choice(string.ascii_lowercase) for _ in range(GUARANTEE_LEN))
    chunk = 64
    monkeypatch.setattr(llm, "WINNOW_CHUNK", chunk)
    for offset in range(chunk - GUARANTEE_LEN, chunk + 1):  # span crosses pos=chunk
        a = "".join(rng.choice(string.ascii_uppercase) for _ in range(offset)) + span \
            + "".join(rng.choice(string.ascii_uppercase) for _ in range(40))
        b = "".join(rng.choice(string.digits) for _ in range(17)) + span
        df = _docs_df(spark, [a, b])
        fp = winnow_fingerprints(df)
        by_doc = {}
        for r in fp.collect():
            by_doc.setdefault(r.doc_id, set()).add(r.h)
        assert by_doc[0] & by_doc[1], f"boundary-straddling span missed at offset {offset}"


def test_hot_cluster_recovered_by_representative_pairs(spark):
    """ADVICE r6: a duplicate cluster LARGER than the df ceiling (the
    mass-duplicated article span dedup exists to find) has all its
    fingerprints dropped by winnow_pair_counts — winnow_hot_pair_counts
    must recover every member as an anchor→member pair against the
    cluster's min doc_id, at O(Σ df) cost."""
    from datafusion_parallelism_spark.queries.llm import winnow_hot_pair_counts

    rng = random.Random(7)
    article = "".join(rng.choice(string.ascii_lowercase) for _ in range(200))
    ceiling = 4
    n_copies = 10  # cluster size 10 > ceiling 4

    def filler(n):
        return "".join(rng.choice(string.ascii_uppercase) for _ in range(n))

    # docs 0..9 all carry `article` (df=10 for its interior fingerprints);
    # docs 10,11 share a rare below-ceiling span and must NOT appear here.
    rare = "".join(rng.choice(string.digits) for _ in range(80))
    texts = [filler(rng.randrange(5, 40)) + article for _ in range(n_copies)] + [
        filler(25) + rare,
        rare + filler(30),
    ]
    fp = winnow_fingerprints(_docs_df(spark, texts))
    hot = {
        (r.doc_a, r.doc_b): r.shared_hot_fps
        for r in winnow_hot_pair_counts(fp, ceiling=ceiling).collect()
    }
    # Every cluster member links to the anchor (min doc_id = 0); the
    # 200-char article selects many identical interior fingerprints, all
    # with df=10 > ceiling, so each pair's count is healthy.
    for member in range(1, n_copies):
        assert hot.get((0, member), 0) >= 2, (member, hot)
    # Exactly the anchor→member shape: no member↔member pairs, and the
    # rare (df=2) span's docs never show up in the hot output.
    assert all(a == 0 and b < n_copies for (a, b) in hot), hot
    # The capped main output drops the cluster's interior entirely
    # (only sub-threshold edge-fingerprint residue may remain) — i.e.
    # the two outputs are complementary, not overlapping.
    main = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in winnow_pair_counts(fp, ceiling=ceiling).collect()
    }
    for p, n in main.items():
        if p[0] < n_copies and p[1] < n_copies:
            assert n < 8, (p, n)
    assert (10, 11) in main and main[(10, 11)] >= 2, main


def test_hot_pairs_empty_when_no_fingerprint_exceeds_ceiling(spark):
    """Below the ceiling the hot output must be EMPTY — the representative
    path only activates for over-ceiling fingerprints, so the two outputs
    never double-report a pair."""
    from datafusion_parallelism_spark.queries.llm import winnow_hot_pair_counts

    rng = random.Random(11)
    span = "".join(rng.choice(string.ascii_lowercase) for _ in range(60))
    texts = [
        "".join(rng.choice(string.ascii_uppercase) for _ in range(20 + 5 * i)) + span
        for i in range(3)
    ]
    fp = winnow_fingerprints(_docs_df(spark, texts))
    assert winnow_hot_pair_counts(fp, ceiling=3).count() == 0
