"""Config-driven column-mapping compiler.

The reference applies a per-column transform pass driven by the YAML config
(reference cli.py:110-168; spec README.md:46-97): optional integer
``downscale`` (floor division), optional ``max_value``/``default`` clamp
with a companion boolean ``validity_column``, then a type cast; unmapped
``numeric`` columns default to the 32-byte-BE bytes codec, and the original
column is always kept as bytes alongside any mappings (README.md:90).

Here each mapping compiles to a Catalyst Column expression tree —
``F.when`` / ``F.floor`` / ``cast`` — applied in one ``withColumns`` pass,
so the whole transform stays inside whole-stage codegen (no Python in the
hot path except the uint256 codec itself).

Fidelity notes (SURVEY §7.2):
- downscale uses **floor** division (pandas ``//``, "divide and floor" per
  README.md:77-88) — ``F.floor(a / b)``, not SQL ``div`` (truncation).
- the reference's pyarrow ``types`` dict implements only a subset of the
  README's documented type list and KeyErrors on the rest (cli.py:147-155
  vs README.md:92-97); this compiler implements the full documented set.
- without max_value, an out-of-range value must fail the extraction, not
  wrap (README.md:63-66; the reference's ``safe=False`` cast at cli.py:167
  wraps silently — deviation documented in SURVEY §4.2, we prefer the
  README contract): each such column is guarded in place with
  ``F.raise_error``, so the check runs inside whichever job evaluates the
  column (the extraction's write job) and sees exactly the rows and
  columns that are exported.  ``overflow_error`` turns the resulting
  Spark failure back into the ``OverflowError`` the extraction raises.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from subgraph_extractor_spark.functions.uint256 import uint256_to_be_bytes

_INT64_MAX = 2**63 - 1


def _num_lit(v) -> Column:
    """Literal for config numbers: ints beyond int64 (uint64 max, clamp
    bounds, Numeric38 domains) must become Decimal literals — a plain
    F.lit raises NumberFormatException in the JVM."""
    import decimal

    if isinstance(v, int) and abs(v) > _INT64_MAX:
        return F.lit(decimal.Decimal(v))
    return F.lit(v)

# README.md:92-97 documented export types -> Spark SQL types.  Spark has no
# unsigned integers: each uintN widens to the next signed type that holds
# its full domain; uint64 needs Decimal(20,0) (SURVEY §1.2).
SPARK_TYPE_FOR_MAPPING = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "uint64": "decimal(20,0)",
    "float32": "float",
    "float64": "double",
    "Numeric38": "decimal(38,0)",
    "bytes": "binary",
    "bool": "boolean",
    "boolean": "boolean",
    "string": "string",
}

# Inclusive numeric domains for strict (no-max_value) range enforcement.
_TYPE_DOMAIN = {
    "int8": (-(2**7), 2**7 - 1),
    "int16": (-(2**15), 2**15 - 1),
    "int32": (-(2**31), 2**31 - 1),
    "int64": (-(2**63), 2**63 - 1),
    "uint8": (0, 2**8 - 1),
    "uint16": (0, 2**16 - 1),
    "uint32": (0, 2**32 - 1),
    "uint64": (0, 2**64 - 1),
    "Numeric38": (-(10**38) + 1, 10**38 - 1),
}


def _floordiv_udf(factor: int):
    """Exact arbitrary-precision floor division (Arrow-batched, Python
    int semantics — `//` floors like the reference's pandas `//`)."""
    import decimal

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("decimal(38,0)")
    def fd(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda v: None if v is None else decimal.Decimal(int(v) // factor)
        )

    return fd


def floordiv_exact(col: Column, factor) -> Column:
    """Exact floor division for decimal columns.

    ``F.floor(a / b)`` is WRONG for decimals: Spark's decimal division
    rounds to the result scale first (999999999 / 10^9 -> 1.000000 ->
    floor 1, not 0).  Subtracting the positive remainder first makes the
    quotient exact: (a - pmod(a, b)) / b == floor(a / b) for any sign of
    ``a`` (pmod is always in [0, b)).

    Capacity caveat: decimal(38,0)/decimal(38,0) yields decimal(38,6)
    under allowPrecisionLoss, whose integer capacity is 10^32 — a
    quotient >= 10^32 would silently become NULL.  With ``factor >=
    10^7`` the quotient of any decimal(38,0) is < 10^32, so the codegen
    path is safe; smaller factors take an exact Arrow kernel instead
    (rare config — downscales are typically 10^9..10^18)."""
    k = _num_lit(factor).cast("decimal(38,0)")
    if int(factor) >= 10**7:
        return ((col - F.pmod(col, k)) / k).cast("decimal(38,0)")
    return _floordiv_udf(int(factor))(col.cast("decimal(38,0)"))


def downscale(col: Column, factor: int) -> Column:
    """Lossy integer downscale: divide and floor (README.md:77-88)."""
    if factor <= 0:
        raise ValueError(f"downscale factor must be positive: {factor}")
    return floordiv_exact(col, factor)


def clamp(col: Column, max_value, default) -> Column:
    """Keep values <= max_value, replace larger ones with default
    (README.md:63-75; reference np.where at cli.py:120-130)."""
    return F.when(col <= _num_lit(max_value), col).otherwise(_num_lit(default))


def validity(col: Column, max_value) -> Column:
    """Companion boolean: was the value within range?"""
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
        col <= _num_lit(max_value)
    )


@dataclass
class CompiledMappings:
    """Output of the compiler: expressions to add, in order."""

    columns: dict[str, Column] = field(default_factory=dict)
    # Dest names of the strict-typed mappings.  Their expressions in
    # ``columns`` carry a range guard that raises at evaluation time
    # (README "extraction will stop with an error" contract); no
    # separate job checks them.
    assertions: list[str] = field(default_factory=list)
    # dest column -> "uint8|uint16|uint32|uint64": Spark carries these in
    # widened signed types; the arrow sink narrows them back to unsigned
    # Parquet types like the reference (cli.py:147-155).
    arrow_types: dict[str, str] = field(default_factory=dict)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumns(self.columns) if self.columns else df


def compile_column_mappings(
    column_mappings: dict[str, dict[str, dict]] | None,
    numeric_columns: list[str] = (),
) -> CompiledMappings:
    """Compile a config ``column_mappings`` block into Column expressions.

    ``numeric_columns`` lists source columns of unbounded-numeric (uint256)
    kind; each is re-expressed as 32-byte-BE bytes under its own name
    (the "original always present as bytes" rule, README.md:90), with any
    mappings derived from the pre-codec value.
    """
    out = CompiledMappings()
    column_mappings = column_mappings or {}

    for src, targets in column_mappings.items():
        src_col = F.col(src)
        for dest, spec in (targets or {}).items():
            expr = src_col
            type_name = spec.get("type", "bytes")
            if type_name not in SPARK_TYPE_FOR_MAPPING:
                raise ValueError(
                    f"unknown mapping type {type_name!r} for {src}->{dest}; "
                    f"allowed: {sorted(SPARK_TYPE_FOR_MAPPING)}"
                )
            if "downscale" in spec:
                expr = downscale(expr, int(spec["downscale"]))
            if "max_value" in spec:
                mx = spec["max_value"]
                dflt = spec.get("default", 0)
                if spec.get("validity_column"):
                    out.columns[spec["validity_column"]] = validity(expr, mx)
                expr = clamp(expr, mx, dflt)
            elif type_name in _TYPE_DOMAIN:
                expr = range_guard(expr, dest, type_name)
                out.assertions.append(dest)
            if type_name == "bytes":
                expr = uint256_to_be_bytes(expr)
            else:
                expr = expr.cast(SPARK_TYPE_FOR_MAPPING[type_name])
            if type_name.startswith("uint"):
                out.arrow_types[dest] = type_name
            out.columns[dest] = expr

    # Default path for unmapped (and mapped — original kept) numeric cols.
    for src in numeric_columns:
        out.columns[src] = uint256_to_be_bytes(F.col(src))
    return out


_OVERFLOW_TEXT = "out of range for strict-typed mapping"
_OVERFLOW_RE = re.compile(_OVERFLOW_TEXT + r" '([^']*)'")


def range_guard(col: Column, dest: str, type_name: str) -> Column:
    """``col`` where it lies in ``type_name``'s domain (or is null); any
    other value raises ``USER_RAISED_EXCEPTION`` naming ``dest`` when the
    row is evaluated."""
    lo, hi = _TYPE_DOMAIN[type_name]
    in_range = col.isNull() | ((col >= _num_lit(lo)) & (col <= _num_lit(hi)))
    msg = F.concat(
        F.lit(f"{_OVERFLOW_TEXT} '{dest}' ({type_name}): "),
        col.cast("string"),
    )
    return F.when(in_range, col).otherwise(F.raise_error(msg))


def enforce_assertions(df: DataFrame, compiled: CompiledMappings) -> DataFrame:
    """Apply the mappings to ``df`` with every strict-typed mapping guarded
    (README.md:63-66).  Lazy: an out-of-range value fails the action that
    evaluates it — for the extraction, its write job, on the rows that
    run exports — and no job of its own runs here."""
    return compiled.apply(df)


def overflow_error(exc: BaseException) -> OverflowError | None:
    """The ``OverflowError`` for a Spark failure raised by a strict-typed
    mapping's guard, naming the mapping(s); None for any other failure."""
    condition = getattr(exc, "getCondition", None)
    if condition is None or condition() != "USER_RAISED_EXCEPTION":
        return None
    bad = sorted(set(_OVERFLOW_RE.findall(str(exc))))
    if not bad:
        return None
    return OverflowError(
        f"value(s) out of range for strictly-typed mapping(s) {bad}; "
        "add max_value/default/validity_column to clamp instead"
    )
