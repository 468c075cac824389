#!/usr/bin/env python
"""Development mimic of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at an sf dir and compare with its
``oracle_sql()`` in DuckDB (row count + schema names + order-insensitive
value hash). Usage: python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object and len(col) and isinstance(col.iloc[0], (list, tuple)):
            pdf[c] = col.map(lambda v: str(list(v)))
        elif str(col.dtype).startswith("datetime"):
            pdf[c] = col.astype("datetime64[us]").astype(str)
        elif col.dtype == "float64" or col.dtype == "float32":
            pdf[c] = col.astype("float64").map(lambda v: f"{v:.12g}")
        else:
            pdf[c] = col.astype(str)
    if len(pdf) == 0:  # apply() on an empty frame returns a DataFrame
        rows = []
    else:
        rows = sorted(pdf.apply(lambda r: "\x1f".join(r.values), axis=1).tolist())
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kgforge.session import get_spark, local_cpus

    master = os.environ.get("KGFORGE_MASTER", f"local[{local_cpus()}]")
    spark = get_spark(master=master, app_name="check-contract")
    if os.environ.get("KGFORGE_ARROW_OFF"):
        # driver-faithful mode: the driver's harness runs Spark defaults,
        # where Arrow conversion is OFF and createDataFrame uses the
        # strict non-Arrow type verifier (round-3 incident class)
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    # DuckDB's default memory limit is 80% of the host's RAM, under which
    # the six-way join oracle of a7e_simple_scores grew past 11 GB on a
    # 16 GB host and was OOM-killed; held to a limit it completes
    con = duckdb.connect(config={"memory_limit": "2GB"})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            fails.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows ({dt:.1f}s) [no oracle — rows-only]")
            if len(got) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
            fails.append(name)
            continue
        ok_rows = len(got) == len(want)
        ok_schema = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_schema and value_hash(got) == value_hash(want)
        status = "OK  " if (ok_rows and ok_schema and ok_hash) else "FAIL"
        print(
            f"{status}  {name}: spark {len(got)} vs duck {len(want)} rows; "
            f"schema {'=' if ok_schema else sorted(got.columns)} "
            f"{'' if ok_schema else sorted(want.columns)}; hash {'=' if ok_hash else '!='} ({dt:.1f}s)"
        )
        if status == "FAIL":
            fails.append(name)
            if ok_schema and ok_rows:
                merged = _diff(got, want)
                if merged is not None:
                    print(merged)
    print(f"\n{len(fails)} failures: {fails}" if fails else "\nall queries match")
    return 1 if fails else 0


def _diff(got: pd.DataFrame, want: pd.DataFrame, n: int = 3):
    try:
        cols = sorted(got.columns)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        w = want[cols].sort_values(cols).reset_index(drop=True)
        neq = (g != w).any(axis=1)
        if neq.any():
            idx = neq[neq].index[:n]
            return f"  first diffs:\n  got:\n{g.loc[idx]}\n  want:\n{w.loc[idx]}"
    except Exception:  # noqa: BLE001
        return None
    return None


if __name__ == "__main__":
    raise SystemExit(main())
