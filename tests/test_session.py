"""session.local_df: driver-resident rows -> LocalRelation DataFrame."""

import pyarrow as pa
import pytest

from gdal_boots_spark.session import local_df

CASES = {
    "empty": ([], "a long, b double, c string"),
    "nulls": ([(1, None, None), (None, 2.5, "x"), (None, None, None)], "a long, b double, c string"),
    "booleans": ([(True, 1), (False, 2), (None, 3)], "f boolean, i int"),
    "longs_above_2_53": ([(2**53 + 1,), (2**62 + 3,), (2**63 - 1,), (-(2**63),)], "v long"),
    "doubles": ([(0.1 + 0.2,), (-0.0,), (0.0,), (1e-300,), (float("inf"),)], "v double"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_create_dataframe(spark, case):
    """Same schema (incl. nullability, JVM side) and the same collected
    rows as createDataFrame(list) — repr-compared, so -0.0 vs 0.0 and
    the last bit of 0.1 + 0.2 count — and the plan is a LocalRelation."""
    rows, schema = CASES[case]
    got = local_df(spark, rows, schema)
    exp = spark.createDataFrame(rows, schema)
    assert got._jdf.schema().json() == exp._jdf.schema().json()
    assert repr(got.collect()) == repr(exp.collect())
    assert got._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")


def test_local_df_rejects_mistyped_value(spark):
    """A value that does not fit its column raises instead of falling
    back to a slower conversion path."""
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_df(spark, [("not a number",)], "v long")
