"""Local replica of the driver's correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` twin side-by-side and
compare the way the DRIVER compares — through the pandas path
(Spark ``toPandas()`` vs duckdb ``.df()``), dtype-sensitively, with
NO rounding or numeric forgiveness.

Calibrated against CORRECTNESS_r01.json: the r1 driver hash-fails are
all explained by STRING-RENDERED cell comparison (to_csv-style after a
full-row sort) — ``Decimal('246675.00')`` renders ``"246675.00"`` vs
float64 ``"246675.0"`` (q01 fails; q03's revenues all have 4 non-zero
decimals so it passes by luck), int64 ``5`` vs float64 ``5.0``
(q_cube/q_json_extract fail), and list cells crash pandas
``sort_values`` (q_multimodal_features err).  This gate reproduces all
three failure modes:

- every cell is compared by its pandas string rendering, NO numeric
  coercion: Decimal keeps its scale digits, float64 uses repr, int has
  no decimal point — cross-type equal values are failures;
- any list/ndarray cell is an immediate ERR (driver canonicalizer
  crash).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
       python tools/oracle_check.py sf_dir --first 50
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class Unhashable(Exception):
    """A cell the driver's pandas canonicalizer would crash on."""


def canon(v):
    """Canonicalize one cell the way the driver's pandas path does:
    by string rendering, with NO cross-type numeric forgiveness.

    ``Decimal('2.00')`` → "2.00", float64 2.0 → "2.0", int 2 → "2":
    all three are pairwise DIFFERENT, matching the r1 driver outcome.
    """
    if v is None:
        return ("null",)
    if isinstance(v, (list, tuple, np.ndarray)):
        raise Unhashable(f"array cell {type(v).__name__}")
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return ("null",)
        return ("c", repr(v))
    if isinstance(v, Decimal):
        return ("c", str(v))
    if isinstance(v, pd.Timestamp):
        # pandas csv/str rendering: midnight timestamps print date-only
        # (this is why the r1 driver passed q03's DATE-vs-midnight-TS col)
        if v.tzinfo is None and v == v.normalize():
            return ("c", v.date().isoformat())
        return ("c", str(v))
    if hasattr(v, "isoformat"):
        return ("c", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("c", repr(bytes(v)))
    return ("c", str(v))


def frame_multiset(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    out = Counter()
    for row in df[cols].itertuples(index=False, name=None):
        out[tuple(canon(v) for v in row)] += 1
    return out


def diff_sample(sm: Counter, om: Counter, k: int = 2) -> str:
    s_only = list((sm - om).items())[:k]
    o_only = list((om - sm).items())[:k]
    return f"spark-only={s_only} oracle-only={o_only}"


def main() -> int:
    args = [a for a in sys.argv[1:]]
    first_n = None
    if "--first" in args:
        i = args.index("--first")
        first_n = int(args[i + 1])
        del args[i:i + 2]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_TESTDATA", "/root/testdata"
    ) + "/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from sample_dms_s3_kinesis_spark.session import session

    spark = session("test")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs)
    if first_n is not None:
        names = names[:first_n]
    failures = []
    for name in names:
        if only and name not in only:
            continue
        fn = qs[name]
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            try:
                frame_multiset(sdf)
            except Unhashable as e:
                failures.append(name)
                print(f"FAIL  {name}: driver canonicalizer would crash: {e}")
                continue
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}"
            )
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} != {len(odf)}")
        if not problems:
            try:
                sm = frame_multiset(sdf)
                om = frame_multiset(odf)
            except Unhashable as e:
                failures.append(name)
                print(f"FAIL  {name}: driver canonicalizer would crash: {e}")
                continue
            if sm != om:
                problems.append(f"values differ; {diff_sample(sm, om)}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            print(f"ok    {name}: {len(sdf)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
