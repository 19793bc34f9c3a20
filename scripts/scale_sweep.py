#!/usr/bin/env python
"""Scale sweep: measure the headline corpus at 1x/2x/4x/8x/16x of sf0.1.

Purpose (BASELINE.md BENCH gate): the toy-scale headline wall is dominated
by Spark's fixed per-query cost (~0.3-1 s of scheduling/codegen/py4j on MBs
of input).  This sweep shows what actually matters for the 100 TB posture:
how the SAME plans scale as data grows, versus DuckDB running the oracle
SQL on the same files.

Method
------
Replicas are generated from /root/testdata/sf0.1 by unioning F offset
copies (DuckDB, written to /tmp/spark_graft_scale/x{F}/):

* Every key domain is offset per copy by ``copy_i * (max_key + 1)`` --
  c_custkey, s_suppkey, p_partkey, o_orderkey (+ its l_orderkey /
  o_custkey references), event_id, user_id, doc_id, vec_id -- so each
  copy is a self-contained shard and all join/group results scale
  LINEARLY (TPC-H's own scaling model: facts grow, dims fixed).
* nation/region stay single-copy (fixed dims at every TPC-H SF).
* documents.text for copy i>0 gets a word-level perturbation (suffix
  ``~i`` on the ~25% of word occurrences where ``hash(word||i)%4==0``),
  which keeps cross-copy shingle Jaccard ~0.1 -- far below near-dup
  thresholds -- so dedup candidate pairs also scale linearly instead of
  quadratically in identical-text clones.
* The ANN query set is pinned (vec_id < 10 exists only in copy 0), so
  similarity search measures a growing corpus against a fixed query set.

Spark runs each factor in a fresh subprocess (``bench.py`` with
``SPARK_GRAFT_SF_DIR``), so shuffle-partition sizing and the AQE gate see
each replica's true size.  DuckDB runs the same headline queries' oracle
SQL on the same files, warm best-of-2, in-process.

Usage: python scripts/scale_sweep.py [factors ...]   (default: 1 2 4 8 16)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/spark_graft_scale"

#: key columns to offset, per table: {table: {column: domain_key}}.
#: domain_key names the table.column whose max defines the offset stride,
#: so foreign keys shift in lockstep with the keys they reference.
OFFSETS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "customer.c_custkey"},
    "supplier": {"s_suppkey": "supplier.s_suppkey"},
    "part": {"p_partkey": "part.p_partkey"},
    "orders": {
        "o_orderkey": "orders.o_orderkey",
        "o_custkey": "customer.c_custkey",
    },
    "lineitem": {
        "l_orderkey": "orders.o_orderkey",
        "l_partkey": "part.p_partkey",
        "l_suppkey": "supplier.s_suppkey",
    },
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
    "documents": {"doc_id": "documents.doc_id"},
    "embeddings": {"vec_id": "embeddings.vec_id"},
}
FIXED_TABLES = ("nation", "region")


def _strides(con: duckdb.DuckDBPyConnection, src: str) -> dict[str, int]:
    strides: dict[str, int] = {}
    for spec in OFFSETS.values():
        for domain in spec.values():
            if domain in strides:
                continue
            table, col = domain.split(".")
            (mx,) = con.sql(
                f"SELECT MAX({col}) FROM read_parquet('{src}/{table}.parquet')"
            ).fetchone()
            strides[domain] = int(mx) + 1
    return strides


#: Replica parquet layout (round 8, VERDICT r7 item 1).  The r2-r7 replicas
#: were ONE DuckDB-written file per table with default ~122k-row row groups
#: — the x256 documents file had 11 row groups, capping scan parallelism at
#: 11 of 32 cores for every scan-bound pipeline (the pathology behind the r7
#: winnow cliff, and a layout nothing like a real 100 TB lake of many
#: 128 MB files).  Scaled tables are now written as a DIRECTORY of ≤128 MB
#: part files, with row-group size chosen PER TABLE (v3): a flat 32k-row
#: group (the first v2 attempt) gave documents its 38 groups but shredded
#: lineitem x128 into 2,883 groups / ~37k column chunks, and the x128
#: bench pass read 821.8 s vs 520.9 on the old layout (tpch_q21 105 s vs
#: 14.8).  v3 targets ~128 row groups per table — enough that every scan
#: parallelizes past 32 cores at the measured factors — clamped to
#: [8192, 122880] rows so small tables get fine groups (documents x256:
#: ~128 groups) while big facts keep the default granularity (lineitem
#: x256: ~1,250 groups, same 122,880 rows/group DuckDB writes by default).
#: Layout is recorded in .done so older replicas regenerate instead of
#: being silently reused.
LAYOUT = "multifile-pertable-rg-v3"
FILE_SIZE = "128MB"
ROW_GROUP_ROWS_MIN = 8192
ROW_GROUP_ROWS_MAX = 122880  # DuckDB COPY default
TARGET_ROW_GROUPS = 128


def row_group_rows(n_rows: int) -> int:
    """Per-table replica row-group size: ~TARGET_ROW_GROUPS groups,
    clamped to [ROW_GROUP_ROWS_MIN, ROW_GROUP_ROWS_MAX] rows."""
    return max(ROW_GROUP_ROWS_MIN, min(ROW_GROUP_ROWS_MAX, n_rows // TARGET_ROW_GROUPS))


def generate(factor: int, src: str = SRC, out_root: str = OUT_ROOT) -> str:
    """Materialize the x{factor} replica dir; idempotent (skips if present
    at the CURRENT layout version)."""
    out = os.path.join(out_root, f"x{factor}")
    done = os.path.join(out, ".done")
    if os.path.exists(done) and open(done).read().strip() == LAYOUT:
        return out
    if os.path.exists(out):
        import shutil

        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    strides = _strides(con, src)
    for table in FIXED_TABLES:
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet')) "
            f"TO '{out}/{table}.parquet' (FORMAT parquet)"
        )
    for table, spec in OFFSETS.items():
        cols = [
            r[0]
            for r in con.sql(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{table}.parquet')"
            ).fetchall()
        ]
        exprs = []
        for c in cols:
            if c in spec:
                stride = strides[spec[c]]
                exprs.append(f"({c} + copy_i * {stride}) AS {c}")
            elif table == "documents" and c == "text":
                # Word-level perturbation for copies > 0 (see module doc),
                # plus a per-copy sentinel token: short docs can escape the
                # hash mask entirely (P≈0.75^n_words) and would otherwise be
                # exact cross-copy clones, breaking dedup-exact linearity.
                exprs.append(
                    "CASE WHEN copy_i = 0 THEN text ELSE concat(array_to_string("
                    "list_transform(string_split(text, ' '), "
                    "w -> CASE WHEN hash(w || copy_i) % 4 = 0 "
                    "THEN w || '~' || copy_i ELSE w END), ' '), "
                    "' zcopy', copy_i) END AS text"
                )
            else:
                exprs.append(c)
        (n_src,) = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()
        rg_rows = row_group_rows(int(n_src) * factor)
        con.sql(
            f"COPY (SELECT {', '.join(exprs)} "
            f"FROM read_parquet('{src}/{table}.parquet'), "
            f"(SELECT unnest(range({factor})) AS copy_i)) "
            f"TO '{out}/{table}.parquet' "
            f"(FORMAT parquet, FILE_SIZE_BYTES '{FILE_SIZE}', "
            f"ROW_GROUP_SIZE {rg_rows})"
        )
    with open(done, "w") as f:
        f.write(LAYOUT + "\n")
    return out


def spark_wall(sf_dir: str) -> dict:
    """Run bench.py against sf_dir in a fresh subprocess; parse its JSON.

    SPARK_GRAFT_NO_DUCKDB=1: the sweep measures DuckDB itself (duckdb_wall
    below, which supports SWEEP_DUCKDB_SKIP for oracles already established
    super-linear) — bench.py's embedded same-window DuckDB pass would run
    every oracle unskipped, which at GB factors means hours."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_NO_DUCKDB="1",
        # 1 warm-up + 2 measured passes: at GB factors a pass dwarfs
        # scheduling noise, and the default 5 passes would cost hours of
        # sweep wall at x128/x256 (driver bench.py runs keep the default).
        SPARK_GRAFT_PASSES=os.environ.get("SWEEP_SPARK_PASSES", "2"),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=7200,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise RuntimeError(f"bench.py produced no JSON: {proc.stdout!r} {proc.stderr!r}")


def duckdb_wall(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Run each headline query's oracle SQL on sf_dir, warm best-of-N
    (``SWEEP_DUCKDB_PASSES``, default 2; set 1 at GB-scale factors where a
    second pass of the slowest oracles costs tens of minutes).

    ``SWEEP_DUCKDB_SKIP`` (comma-separated query names) excludes oracles
    that are super-linear in DuckDB and already established as such at a
    lower factor — e.g. dedup_minhash_lsh's all-pairs verify hit 1902.7 s
    at x64 (scale_sweep_r3.jsonl); at x256 it would run for hours without
    adding information.  Skipped names are absent from the returned dict,
    so totals stay comparable only across the same skip set."""
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.session import default_cpus

    passes = int(os.environ.get("SWEEP_DUCKDB_PASSES", "2"))
    skip = {
        s for s in os.environ.get("SWEEP_DUCKDB_SKIP", "").split(",") if s
    }
    con = duckdb.connect()
    con.sql(f"SET threads = {default_cpus()}")
    # Cap DuckDB's spill: an oracle whose intermediate explodes at a GB
    # factor must fail ITS measurement (recorded as an error), not fill
    # the disk and kill the whole sweep (observed: 78 GB of temp from one
    # x4 oracle).
    con.sql("SET temp_directory = '/tmp/duckdb_sweep_tmp'")
    con.sql("SET max_temp_directory_size = '20GB'")
    # Cap DuckDB's RAM too (default is ~80% of the machine): at x128 the
    # vec_kmeans oracle grew past 130 GB RSS and the kernel OOM-killed the
    # whole sweep process (exit 137), losing the factor's completed Spark
    # phase.  With an explicit limit DuckDB spills (into the capped temp
    # dir above) and an oracle that exceeds both fails ITS measurement.
    con.sql(
        f"SET memory_limit = '{os.environ.get('SWEEP_DUCKDB_MEMLIMIT', '48GB')}'"
    )
    from datafusion_parallelism_spark.testing import table_glob

    for t in list(OFFSETS) + list(FIXED_TABLES):
        src_path = table_glob(sf_dir, t)  # file OR directory of part files
        if src_path is not None:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_path}')"
            )
    times: dict[str, float] = {}
    for name in names:
        if name in skip:
            continue
        oracle = REGISTRY[name].oracle
        if oracle is None:
            continue
        best = float("inf")
        try:
            for _ in range(passes):
                t0 = time.perf_counter()
                con.sql(oracle).fetchall()
                best = min(best, time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            times[f"{name}__error"] = str(exc)[:120]  # type: ignore[assignment]
            print(f"  duckdb {name}: ERROR {str(exc)[:120]}", flush=True)
            continue
        times[name] = round(best, 3)
        print(f"  duckdb {name}: {best:.2f}s", flush=True)
    return times


def duckdb_wall_isolated(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Like duckdb_wall, but each oracle runs in its own subprocess.

    DuckDB's memory_limit does not track every allocation: at x128 the
    vec_kmeans oracle grew to 130 GB RSS under memory_limit=48GB and the
    kernel OOM-killed the whole sweep (twice).  In-process there is no way
    to survive a SIGKILL; per-oracle isolation turns it into that oracle's
    recorded outcome (rc -9 -> "oom-killed").  Used at GB factors
    (SWEEP_DUCKDB_ISOLATE=1); in-process duckdb_wall stays the default at
    small factors where subprocess startup would bias sub-second walls."""
    skip = {s for s in os.environ.get("SWEEP_DUCKDB_SKIP", "").split(",") if s}
    timeout = int(os.environ.get("SWEEP_DUCKDB_TIMEOUT", "7200"))
    times: dict[str, float] = {}
    for name in names:
        if name in skip:
            continue
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--duck-one", sf_dir, name],
            capture_output=True,
            text=True,
            timeout=timeout,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            rec = None
        if proc.returncode != 0 or rec is None:
            msg = (
                "oom-killed (rc -9, kernel OOM)"
                if proc.returncode == -9
                else f"rc {proc.returncode}: {(rec or {}).get('error', proc.stderr[-120:])}"
            )
            times[f"{name}__error"] = msg[:160]  # type: ignore[assignment]
            print(f"  duckdb {name}: ERROR {msg[:160]}", flush=True)
        elif "error" in rec:
            times[f"{name}__error"] = rec["error"][:160]  # type: ignore[assignment]
            print(f"  duckdb {name}: ERROR {rec['error'][:120]}", flush=True)
        else:
            times[name] = rec["best"]
            print(f"  duckdb {name}: {rec['best']:.2f}s", flush=True)
    return times


def _duck_one(sf_dir: str, name: str) -> None:
    """Subprocess entry: run ONE oracle, print a one-line JSON result."""
    try:
        res = duckdb_wall(sf_dir, [name])
    except Exception as exc:  # noqa: BLE001
        print(json.dumps({"name": name, "error": str(exc)[:160]}))
        return
    if name in res:
        print(json.dumps({"name": name, "best": res[name]}))
    else:
        err = res.get(f"{name}__error", "no result")
        print(json.dumps({"name": name, "error": str(err)[:160]}))


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--duck-one":
        _duck_one(sys.argv[2], sys.argv[3])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--generate-only":
        # documented entry for harnesses that need the replica but not the
        # sweep (full_registry_run.py's usage line referenced this mode
        # before it existed)
        if len(sys.argv) < 3:
            print(
                "usage: scale_sweep.py --generate-only FACTOR [FACTOR ...]",
                file=sys.stderr,
            )
            sys.exit(2)
        for a in sys.argv[2:]:
            print(generate(int(a)))
        return
    factors = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8, 16]
    from bench import HEADLINE

    rows = []
    for f in factors:
        sf_dir = SRC if f == 1 else generate(f)
        from datafusion_parallelism_spark.session import dir_size

        size_mb = round(dir_size(sf_dir) / 1e6, 1)  # handles dir-per-table
        # Spark first: its scaling curve is the sweep's primary subject;
        # the DuckDB pass (which dominates wall at GB factors) follows.
        spark = spark_wall(sf_dir)
        # Durable spark-phase record BEFORE the DuckDB pass: a DuckDB
        # oracle once OOM-killed the sweep process at x128, losing the
        # factor's completed 25-minute Spark measurement.
        out = os.environ.get("SWEEP_OUT")
        if out:
            with open(out, "a") as fh:
                fh.write(
                    json.dumps(
                        {
                            "factor": f,
                            "input_mb": size_mb,
                            "phase": "spark-only",
                            "spark_wall_s": spark["value"],
                            "spark_queries": spark["queries"],
                        }
                    )
                    + "\n"
                )
        # Spark-only sweeps (SWEEP_SKIP_DUCKDB=1) exist for leg-ratio
        # re-records: the decade claim is about SPARK scaling, and the
        # DuckDB pass dominates wall at GB factors while pushing the two
        # Spark measurements further apart in time — the opposite of what
        # a same-window leg comparison wants.
        if os.environ.get("SWEEP_SKIP_DUCKDB", "") == "1":
            rows.append(
                {
                    "factor": f,
                    "input_mb": size_mb,
                    "phase": "spark-only",
                    "spark_wall_s": spark["value"],
                    "spark_queries": spark["queries"],
                }
            )
            print(json.dumps(rows[-1]), flush=True)
            continue
        duck = (
            duckdb_wall_isolated(sf_dir, HEADLINE)
            if os.environ.get("SWEEP_DUCKDB_ISOLATE", "") == "1"
            else duckdb_wall(sf_dir, HEADLINE)
        )
        # Every row carries an explicit phase tag (VERDICT r5 "wrong" #3:
        # untagged full rows re-appended by a resumed driver double-count
        # when summing the JSONL; now each row names what it is).
        row = {
            "factor": f,
            "input_mb": size_mb,
            "phase": "spark+duckdb",
            "spark_wall_s": spark["value"],
            "duckdb_wall_s": round(
                sum(v for v in duck.values() if isinstance(v, (int, float))), 3
            ),
            "spark_queries": spark["queries"],
            "duckdb_queries": duck,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
        # Durable per-factor record: a crash mid-sweep (or a lost stdout
        # pipe) must not lose completed factors — observed once at x128.
        if out:
            with open(out, "a") as fh:
                fh.write(json.dumps(row) + "\n")

    print("\nfactor  input_mb  spark_s  duckdb_s  ratio")
    for r in rows:
        duck_s = r.get("duckdb_wall_s")
        ratio = f"{r['spark_wall_s'] / max(duck_s, 1e-9):>5.1f}" if duck_s else "    -"
        print(
            f"{r['factor']:>6}  {r['input_mb']:>8}  {r['spark_wall_s']:>7}"
            f"  {duck_s if duck_s is not None else '-':>8}  {ratio}"
        )


if __name__ == "__main__":
    main()
