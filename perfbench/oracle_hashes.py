"""Recompute ``oracle_hashes.json``: each dedup query's DuckDB oracle
(``plans.ORACLE``) over the benchmark's corpus, hashed the way the runs
hash the program's results.

    python3 perfbench/oracle_hashes.py [--seeds 1 2]

Takes about a minute per seed (``corpus_job_report`` ~50 s).  Every seed must give the same hashes
(the seed only reorders and re-splits the rows); the script fails if two
seeds disagree and otherwise rewrites the file.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

# The queries the queries_dedup workload runs (README.md says why these two).
QUERY_NAMES = ["jaccard_prefix_pairs", "corpus_job_report"]


def _canon(v) -> str:
    """Type-sensitive canonical form; floats raw (repr), -0.0 folded."""
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return f"f:{(0.0 if v == 0.0 else v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def value_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of result rows: columns sorted by name, each
    row joined canonically, the lines sorted, then sha256."""
    cols = sorted(rows[0]) if rows else []
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon(r[c]) for c in cols) for r in rows):
        h.update(line.encode() + b"\n")
    return f"{len(rows)}:{','.join(cols)}:{h.hexdigest()}"


def oracle(data_dir: str) -> dict[str, str]:
    import duckdb

    from processor_edf_spark.plans import ORACLE

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    out = {}
    for q in QUERY_NAMES:
        t0 = time.perf_counter()
        df = con.execute(ORACLE[q]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        rows = [{k: (v.item() if hasattr(v, "item") else v) for k, v in r.items()}
                for r in df.to_dict("records")]
        out[q] = value_hash(rows)
        print(f"{q}: {len(rows)} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return out


def main() -> None:
    from docgen import write_tables

    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    args = ap.parse_args()
    results = []
    for seed in args.seeds:
        d = tempfile.mkdtemp(prefix="oracle_", dir=os.getcwd())
        try:
            write_tables(d, seed)
            results.append(oracle(d))
        finally:
            shutil.rmtree(d)
    if any(r != results[0] for r in results):
        sys.exit(f"oracle hashes differ between seeds: {results}")
    with open(os.path.join(HERE, "oracle_hashes.json"), "w") as f:
        json.dump(results[0], f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
