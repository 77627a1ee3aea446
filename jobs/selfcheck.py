"""Local twin of the driver's CORRECTNESS gate.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
on DuckDB over the same parquet tables, then compares exactly the way
the driver does: sort columns by name, sort rows by all columns, match
row count, schema (dtype kind), and values (floats atol 1e-9).

Usage:
    python jobs/selfcheck.py                 # all queries at sf0.01
    python jobs/selfcheck.py minhash_lsh ... # a subset
    SELFCHECK_SF_DIR=/root/testdata/sf0.001 python jobs/selfcheck.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# DuckDB's default memory_limit is 80% of RAM, which the Spark JVM
# shares. With a fixed limit an oracle that outgrows it fails as one
# ORACLE ERROR for its key instead of getting the process OOM-killed.
# near_dup_keep_best is the largest at sf0.01: it needs more than 2 GB
# there (DuckDB reports 1.8 GiB used at a 2 GB limit) and fits in 3 GB;
# the extra GB is headroom for the other keys.
ORACLE_MEMORY_LIMIT = "4GB"


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return pdf


def _compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    kinds_a = [a[c].dtype.kind for c in a.columns]
    kinds_b = [b[c].dtype.kind for c in b.columns]
    if kinds_a != kinds_b:
        return f"schema kinds {kinds_a} != {kinds_b}"
    for c in a.columns:
        if a[c].dtype.kind == "f":
            if not np.allclose(
                a[c].to_numpy(dtype=float),
                b[c].to_numpy(dtype=float),
                atol=1e-9, rtol=0, equal_nan=True,
            ):
                i = int(
                    np.argmax(
                        ~np.isclose(
                            a[c].to_numpy(dtype=float),
                            b[c].to_numpy(dtype=float),
                            atol=1e-9, rtol=0, equal_nan=True,
                        )
                    )
                )
                return (
                    f"float col {c} row {i}: "
                    f"{a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
                )
        else:
            if not a[c].astype(str).equals(b[c].astype(str)):
                neq = a[c].astype(str) != b[c].astype(str)
                i = int(np.argmax(neq.to_numpy()))
                return (
                    f"col {c} row {i}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
                )
    return None


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # the Python workers of the UDF keys import ocr_spark too: they
    # inherit PYTHONPATH, not the driver's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as E

    queries = E.queries()
    oracles = E.oracle_sql()
    keys = argv or list(queries)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "32")
        # pin the session timezone like tests/conftest.py: date_trunc /
        # date_format oracles (events_by_day) diverge from DuckDB on any
        # non-UTC host otherwise
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", "/dev/shm/selfcheck_spark")
        .appName("selfcheck")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect(config={"memory_limit": ORACLE_MEMORY_LIMIT})
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    failures = 0
    for k in keys:
        if k not in queries:
            print(f"[selfcheck] {k}: UNKNOWN query key")
            failures += 1
            continue
        try:
            spark_pdf = queries[k](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - report, keep checking
            print(f"[selfcheck] {k}: SPARK ERROR {e}")
            failures += 1
            continue
        if k not in oracles:
            print(f"[selfcheck] {k}: rows-only ({len(spark_pdf)} rows) OK")
            continue
        try:
            oracle_pdf = con.execute(oracles[k]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[selfcheck] {k}: ORACLE ERROR {e}")
            failures += 1
            continue
        err = _compare(k, spark_pdf, oracle_pdf)
        if err:
            print(f"[selfcheck] {k}: MISMATCH {err}")
            failures += 1
        else:
            print(f"[selfcheck] {k}: OK ({len(spark_pdf)} rows)")
    spark.stop()
    print(f"[selfcheck] {len(keys) - failures}/{len(keys)} green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
