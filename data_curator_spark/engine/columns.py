"""Null-poisoning columnar expression kernel.

Re-expresses the reference's ``DataColumn`` element-wise semantics
(reference: src/kaxanuk/data_curator/modules/data_column.py) as reusable
PySpark Column expression builders. Everything here is a pure built-in
expression — JVM-side, whole-stage-codegen friendly, no Python UDFs.

Semantics contract (SURVEY.md §1.3):

- NaN is treated as null: any arithmetic with a NaN operand yields null
  (reference data_column.py:1254-1291 ``_mask_dual_array_nulls`` with
  ``is_null(nan_is_null=True)``).
- Division by zero yields null, never error/Inf
  (reference data_column.py:822-851).
- Boolean AND defaults to *null-poisoning* (either side null → null);
  OR has the opt-in Kleene form (reference data_column.py:882-975).
- String concat supports per-element null replacement
  (reference data_column.py:977-1023).
- ±Inf results are scrubbed to null
  (reference features/helpers.py:362-383).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

_DOUBLE = DoubleType()


def _poison(result: Column, *operands: Column) -> Column:
    """Null-poison ``result``: null wherever any operand is null-or-NaN.

    ``try_cast`` keeps this ANSI-safe for non-numeric operand types
    (strings/booleans in concat/boolean kernels)."""
    cond = None
    for op in operands:
        this = op.isNull() | F.coalesce(F.isnan(op.try_cast(_DOUBLE)), F.lit(False))
        cond = this if cond is None else (cond | this)
    return F.when(cond, F.lit(None)).otherwise(result)


def add(a: Column, b: Column) -> Column:
    """a + b with NaN≡null poisoning (data_column.py:23-74)."""
    return _poison(a + b, a, b)


def sub(a: Column, b: Column) -> Column:
    return _poison(a - b, a, b)


def mul(a: Column, b: Column) -> Column:
    return _poison(a * b, a, b)


def div(a: Column, b: Column) -> Column:
    """a / b; zero or null divisor → null (data_column.py:822-879)."""
    return _poison(F.when(b != 0, a / b), a, b)


def mod(a: Column, b: Column) -> Column:
    """a mod b synthesized as a − (a // b)·b (data_column.py:328-351).

    Matches Python floored-modulo semantics (sign follows divisor), which
    is what the reference's synthesis produces — NOT Spark's ``%`` (which
    truncates toward zero like C).
    """
    return _poison(F.when(b != 0, a - F.floor(a / b) * b), a, b)


def and_(a: Column, b: Column) -> Column:
    """Null-poisoning AND — the reference default (data_column.py:917-920).

    Spark's native ``&`` is Kleene (false & null = false); the reference
    default poisons instead.
    """
    return F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(a & b)


def or_kleene(a: Column, b: Column) -> Column:
    return a | b


def concat_with_null_replacement(
    sep: str, *cols: Column, null_replacement: str | None = None
) -> Column:
    """Separator join with per-element null replacement
    (data_column.py:977-1023 ``binary_join_element_wise``).

    With ``null_replacement=None`` any null element poisons the result to
    null (pyarrow's default); with a replacement string, nulls are
    substituted (used for fiscal keys, calculations.py:1272).
    """
    if null_replacement is None:
        # concat_ws skips nulls; poison explicitly to match pyarrow default
        return _poison(F.concat_ws(sep, *cols), *cols)
    return F.concat_ws(sep, *[F.coalesce(c.cast("string"), F.lit(null_replacement)) for c in cols])


def scrub_infinite(c: Column) -> Column:
    """Replace ±Inf (and NaN) with null (features/helpers.py:362-383)."""
    d = c.cast(_DOUBLE)
    return F.when(
        F.isnan(d) | (d == float("inf")) | (d == float("-inf")), F.lit(None).cast(_DOUBLE)
    ).otherwise(d)


def safe_ln(c: Column) -> Column:
    """ln with ±Inf/NaN scrubbed to null — ln(0) → null, ln(<0) → null
    (the reference computes pyarrow ln then scrubs, helpers.py:353,377).
    """
    return scrub_infinite(F.ln(c))
