"""Driver-strict gate check: like check_gate.py but EXACT value equality
after the driver's round-to-9 normalization (no atol) — the hash_match
signal in CORRECTNESS_r*.json. Usage:
  python tools/check_exact.py [sf_dir] [names...]
The ``mrmr_event_features`` row needs about 5 GB and about 25 s in its
DuckDB oracle (10,000 ``events`` rows at sf0.01); the engine side is small.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        elif pdf[c].dtype.kind in "fc":
            pdf[c] = pdf[c].astype(np.float64).round(9)
        elif pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from mrmr_spark.gate import ORACLE_SQL, QUERIES
    from mrmr_spark.session import get_spark

    spark = get_spark(app_name="gate-exact", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        got = normalize(fn(spark, sf_dir).toPandas())
        if name not in ORACLE_SQL:
            print(f"[rows-only] {name}: {len(got)} rows")
            continue
        exp = normalize(con.sql(ORACLE_SQL[name]).df())
        if len(got) != len(exp) or list(got.columns) != list(exp.columns):
            failures.append(name)
            print(f"[FAIL] {name}: shape {got.shape} vs {exp.shape}")
            continue
        bad = None
        for c in got.columns:
            a, b = got[c].to_numpy(), exp[c].to_numpy()
            if a.dtype.kind == "f":
                eq = (a == b) | (np.isnan(a) & np.isnan(b))
            else:
                eq = a == b
            if not eq.all():
                i = int(np.argmin(eq))
                bad = (c, i, a[i], b[i], int((~eq).sum()))
                break
        if bad:
            failures.append(name)
            c, i, av, bv, cnt = bad
            print(f"[HASH-FAIL] {name}: col {c} row {i}: {av!r} vs {bv!r} ({cnt} bad)")
        else:
            print(f"[OK]   {name}: {len(got)} rows EXACT")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL EXACT")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
