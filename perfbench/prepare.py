#!/usr/bin/env python3
"""Build one data directory and the oracle digests of the given queries.

Usage (from the repository root)::

    python3 perfbench/prepare.py --out perfbench/.cache/data/sf0.01 --sf 0.01 \\
        --seed 42 --cores 4 --queries tpch_q1,tpch_q5

``run.py`` runs this as a child process, so that generating the tables and
running DuckDB never count in the measured process's peak RSS.  Both steps
are cached in the data directory: a warm call only checks the cache.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.oracle import OracleCache  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    args = ap.parse_args(argv)
    datagen.generate(args.out, args.sf, args.seed)
    OracleCache(args.out, args.cores).ensure(args.queries.split(","))
    return 0


if __name__ == "__main__":
    sys.exit(main())
