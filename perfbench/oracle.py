"""DuckDB oracle digests, computed once per data directory.

Results are canonicalized exactly as ``testing.compare_to_oracle`` does
(columns ordered by name, floats to 12 significant digits, rows sorted) and
reduced to a SHA-256 digest.  Digests are cached in the data directory,
keyed by the oracle SQL text, so a changed oracle is recomputed.
"""

from __future__ import annotations

import hashlib
import json
import os


def digest(cols: list[str], rows: list[tuple]) -> str:
    from datafusion_parallelism_spark.testing import _canon_rows

    canon = _canon_rows(list(cols), rows)
    payload = repr((sorted(cols), canon)).encode()
    return hashlib.sha256(payload).hexdigest()


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


class OracleCache:
    """Expected result digest per query for one data directory."""

    def __init__(self, sf_dir: str, cores: int):
        self.sf_dir = sf_dir
        self.cores = cores
        self.path = os.path.join(sf_dir, "oracle_digests.json")
        try:
            with open(self.path) as f:
                self.entries: dict[str, dict] = json.load(f)
        except FileNotFoundError:
            self.entries = {}

    def ensure(self, names: list[str]) -> None:
        """Compute and store any digest missing for the current oracle SQL."""
        from datafusion_parallelism_spark.queries import REGISTRY
        from datafusion_parallelism_spark.testing import duckdb_connection

        todo = [
            n for n in names
            if self.entries.get(n, {}).get("sql") != _sql_key(REGISTRY[n].oracle)
        ]
        if not todo:
            return
        con = duckdb_connection(self.sf_dir)
        try:
            con.execute(f"SET threads={self.cores}")
            for name in todo:
                sql = REGISTRY[name].oracle
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.entries[name] = {
                    "sql": _sql_key(sql),
                    "cols": sorted(cols),
                    "rows": len(rows),
                    "digest": digest(cols, rows),
                }
        finally:
            con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> tuple[bool, str]:
        want = self.entries[name]
        if sorted(cols) != want["cols"]:
            return False, f"column mismatch: spark={sorted(cols)} oracle={want['cols']}"
        if len(rows) != want["rows"]:
            return False, f"row count mismatch: spark={len(rows)} oracle={want['rows']}"
        if digest(cols, rows) != want["digest"]:
            return False, "value mismatch (canonical digest differs)"
        return True, f"ok ({len(rows)} rows)"
