"""Column-mapping compiler: downscale floor semantics, clamp + validity,
strict range enforcement, full README type set (SURVEY §1.2 discrepancy
fix)."""

import decimal

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from subgraph_extractor_spark.functions.mappings import (
    SPARK_TYPE_FOR_MAPPING,
    compile_column_mappings,
    enforce_assertions,
    overflow_error,
)


def _num_df(spark, values):
    return spark.createDataFrame(
        [(decimal.Decimal(v),) for v in values],
        T.StructType([T.StructField("amount", T.DecimalType(38, 0))]),
    )


def test_downscale_is_floor_division(spark):
    df = _num_df(spark, [0, 999_999_999, 1_000_000_000, 1_999_999_999, 10**18])
    compiled = compile_column_mappings(
        {"amount": {"amount_gwei": {"type": "uint64", "downscale": 10**9}}}
    )
    rows = compiled.apply(df).orderBy("amount").collect()
    expected = [0, 0, 1, 1, 10**9]
    assert [int(r["amount_gwei"]) for r in rows] == expected


def test_downscale_small_factor_huge_value_exact(spark):
    """ADVICE r01: decimal(38,0)/decimal(38,0) division yields decimal(38,6)
    whose integer capacity is 10^32 — a quotient >= 10^32 (huge value,
    small factor) silently NULLed.  The small-factor path must stay exact."""
    big = 10**37 + 123456789
    df = _num_df(spark, [0, 999, 1000, big, -big])
    compiled = compile_column_mappings(
        {"amount": {"amount_k": {"type": "Numeric38", "downscale": 1000}}}
    )
    rows = compiled.apply(df).orderBy("amount").collect()
    got = {int(r["amount"]): int(r["amount_k"]) for r in rows}
    assert got[big] == big // 1000
    assert got[-big] == -big // 1000  # Python // floors negatives too
    assert got[999] == 0 and got[1000] == 1 and got[0] == 0


def test_clamp_with_validity(spark):
    mx = 2**64 - 1
    df = _num_df(spark, [0, mx, mx + 1, 10**30])
    compiled = compile_column_mappings(
        {
            "amount": {
                "amount_u64": {
                    "type": "uint64",
                    "max_value": mx,
                    "default": 0,
                    "validity_column": "amount_u64_valid",
                }
            }
        }
    )
    rows = compiled.apply(df).orderBy("amount").collect()
    got = [(int(r["amount_u64"]), r["amount_u64_valid"]) for r in rows]
    assert got == [(0, True), (mx, True), (0, False), (0, False)]


def test_strict_overflow_fails_extraction(spark, in_job_group):
    df = _num_df(spark, [0, 2**64])  # exceeds uint64, no max_value
    compiled = compile_column_mappings({"amount": {"a64": {"type": "uint64"}}})
    guarded, jobs = in_job_group("strict-overflow", lambda: enforce_assertions(df, compiled))
    assert jobs == []  # lazy: the check runs in whichever job evaluates it
    with pytest.raises(PySparkException) as raised:
        guarded.collect()
    err = overflow_error(raised.value)
    assert isinstance(err, OverflowError) and "'a64'" in str(err)


def test_strict_in_range_passes(spark, in_job_group):
    df = _num_df(spark, [0, 2**64 - 1])
    compiled = compile_column_mappings({"amount": {"a64": {"type": "uint64"}}})
    guarded, jobs = in_job_group("strict-in-range", lambda: enforce_assertions(df, compiled))
    assert jobs == []
    got = sorted(int(r["a64"]) for r in guarded.collect())  # no raise
    assert got == [0, 2**64 - 1]


def test_full_readme_type_set_casts(spark):
    """README.md:92-97 documents int8..float64 + Numeric38; the reference
    only implements a subset (KeyError on the rest, cli.py:147-155); we
    implement all of them."""
    df = _num_df(spark, [42])
    mappings = {
        "amount": {f"as_{t}": {"type": t} for t in SPARK_TYPE_FOR_MAPPING if t not in ("bytes",)}
    }
    compiled = compile_column_mappings(mappings)
    out = compiled.apply(df)
    dtypes = dict(out.dtypes)
    assert dtypes["as_int8"] == "tinyint"
    assert dtypes["as_uint64"] == "decimal(20,0)"
    assert dtypes["as_float32"] == "float"
    assert dtypes["as_Numeric38"] == "decimal(38,0)"
    row = out.first()
    assert int(row["as_int64"]) == 42 and float(row["as_float64"]) == 42.0


def test_unmapped_numeric_defaults_to_bytes(spark):
    df = _num_df(spark, [5])
    compiled = compile_column_mappings(None, numeric_columns=["amount"])
    row = compiled.apply(df).first()
    assert bytes(row["amount"]) == (5).to_bytes(32, "big")


def test_unknown_type_rejected(spark):
    with pytest.raises(ValueError):
        compile_column_mappings({"amount": {"x": {"type": "uint128"}}})
