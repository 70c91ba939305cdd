"""Data contract behind the scaled-long money fast path.

``plans.registry._cents`` computes floor(x·100 + 0.5) in long
arithmetic instead of a per-row DECIMAL cast.  That equals the HALF_UP
decimal cast cent for cent only while every money value is an exact
2-decimal double, which is what ``tools/gen_testdata.py`` writes
(``np.round(x, 2)``).  This test pins that contract on every money
column of the fixtures, so a data change that breaks it fails here
instead of as a silent 1-cent drift in the aggregates.
"""

import pytest
from pyspark.sql import functions as F

from sample_dms_s3_kinesis_spark.plans.registry import _cents, t
from tdata import sf_dir

MONEY_COLUMNS = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    "events": ("value",),
}


def _dec(col, scale: int = 2):
    """Reference for ``_cents``: the decimal cast whose HALF_UP
    rounding it must match."""
    return col.cast(f"decimal(18,{scale})")


@pytest.mark.parametrize("scale", ["0.001", "0.01"])
def test_cents_equals_decimal_cast_on_every_money_column(spark, scale):
    sf = sf_dir(scale)
    for table, cols in MONEY_COLUMNS.items():
        row = (
            t(spark, sf, table)
            .select(
                F.count(F.lit(1)).alias("_rows"),
                *[
                    F.sum(
                        F.when(
                            _cents(F.col(c)).eqNullSafe(_dec(F.col(c)) * 100),
                            0,
                        ).otherwise(1)
                    ).alias(c)
                    for c in cols
                ],
            )
            .first()
        )
        assert row["_rows"] > 0, table
        mismatches = {c: row[c] for c in cols}
        assert mismatches == {c: 0 for c in cols}, (table, mismatches)
