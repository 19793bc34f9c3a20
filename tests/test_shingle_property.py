"""The one Python shingle rule against the oracle's own DuckDB fragments.

``llm._word_shingles`` is the only shingler in the package: the MinHash
rows and every Spark-side shingle consumer (``llm.shingle_sets``) call it.
The oracles shingle in DuckDB with ``_SHINGLES_SQL`` (n = 3, consumed as a
per-doc distinct set) and ``_BIGRAMS_SQL`` (n = 2, repeats counted), so
those fragments are the reference: on NULL, ``''``, 1–2-token,
repeated-token and non-ASCII texts the Python lists must equal DuckDB's,
order and repeats included.  DuckDB shingles a NULL text to one NULL
shingle, which joins and groups with nothing the consumers read; the
Python rule yields no shingle for it.

The packed pair member ``doc_id << 20 | n`` has a bound: a document
outside it raises one ValueError naming its doc_id and is never
truncated."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.queries import REGISTRY, llm

_TOKENS = ["a", "b", "", "é", "漢字", "😀", "the"]


def _text_st():
    words = st.lists(st.sampled_from(_TOKENS), max_size=8)
    return st.one_of(
        st.none(),
        st.just(""),
        words.map(" ".join),
        st.text(alphabet="ab é漢😀", max_size=12),
    )


def _duckdb_lists(texts, fragment):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
    if texts:
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    rows = con.execute(f"SELECT i, {fragment} FROM t ORDER BY i").fetchall()
    return [[s for s in shingles if s is not None] for _, shingles in rows]


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_text_st(), max_size=12))
@example([None, "", "a", "a b", "a a a a", "a  b", " ", "aé 漢😀 x 😀"])
def test_python_shingles_equal_duckdb_fragments(texts):
    assert [llm._word_shingles(t, 3) for t in texts] == _duckdb_lists(
        texts, llm._SHINGLES_SQL
    )
    assert [llm._word_shingles(t, 2) for t in texts] == _duckdb_lists(
        texts, llm._BIGRAMS_SQL
    )


def test_pack_member_bounds():
    """The largest doc_id and set size that fit pack exactly and keep
    doc_id order; one past either bound raises the one ValueError."""
    top = (1 << 43) - 1
    m = llm._pack_member(top, (1 << 20) - 1)
    assert m >> 20 == top and m & ((1 << 20) - 1) == (1 << 20) - 1
    assert m < 1 << 63
    assert llm._pack_member(-(1 << 43), 0) >> 20 == -(1 << 43)
    assert llm._pack_member(1, 9) < llm._pack_member(2, 0)
    with pytest.raises(ValueError, match="doc_id 7 with 1048576 distinct shingles"):
        llm._pack_member(7, 1 << 20)
    with pytest.raises(ValueError, match=f"doc_id {1 << 43} "):
        llm._pack_member(1 << 43, 1)


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment"])
def test_doc_id_outside_pack_bound_raises(spark, tmp_path, name):
    """A doc_id of 2⁴³ cannot be packed: the query raises a ValueError
    naming it, and its task fails exactly once."""
    bad = 1 << 43
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, bad, 3], pa.int64()),
                "text": ["a b c d", "a b c d", "x y z"],
            }
        ),
        tmp_path / "documents.parquet",
    )
    sc = spark.sparkContext
    group = f"pack-bound-{name}"
    sc.setJobGroup(group, f"{name} doc_id outside the pack bound")
    try:
        with pytest.raises(Exception) as err:
            REGISTRY[name].fn(spark, str(tmp_path)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    msg = str(err.value)
    assert "ValueError" in msg and f"doc_id {bad} with" in msg, msg
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert sum(st.numFailedTasks for st in stages if st is not None) == 1
