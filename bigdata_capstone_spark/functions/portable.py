"""Engine-portable expressions.

Oracle checking (driver contract in ``__spark_entry__.py``) hash-compares
Spark results against DuckDB running ANSI SQL on the same Parquet. Two
classes of expression need care to be *bit-identical* across engines:

1. **Hashes.** Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are
   different algorithms. Both engines agree on ``md5`` of a UTF-8 string,
   so every hash in this engine that an oracle must reproduce is derived
   from md5 hex: the first 15 hex chars parsed as an integer — a uniform
   60-bit value that fits a signed 64-bit long in both engines.

2. **Floating-point aggregates.** ``sum(double)`` is reduction-order
   dependent and Spark's partitioned partial aggregation will not match
   DuckDB's scan order in the last ulp. Money-like doubles are summed as
   ``DECIMAL(18,2)`` (exact, associative) and only then cast to double, so
   both engines produce the identical IEEE value. Order-dependent statistics
   (corr, variance) cannot be made exact; callers round those to a few
   decimals on both sides instead.

Dot products over ``array<float>`` are evaluated left-to-right in array
order in both engines (Spark ``aggregate``, DuckDB ``list_``/comprehension),
so element-order-identical inputs give identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# md5_long values are uniform on [0, 16**15), i.e. 60 bits.
MD5_LONG_MAX: int = 16**15


def md5_long(col: Column | str) -> Column:
    """60-bit integer hash of a string column, reproducible in DuckDB.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`md5_long`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def salted_md5_long(col: Column | str, salt: int) -> Column:
    """Salted variant — one independent hash family per integer salt.

    Used as the permutation family for MinHash signatures: permutation *i*
    of token *t* is ``md5_long(i || ':' || t)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return md5_long(F.concat(F.lit(f"{salt}:"), c))


def salted_md5_long_sql(expr: str, salt: int) -> str:
    """DuckDB SQL text equivalent of :func:`salted_md5_long`."""
    return md5_long_sql(f"'{salt}:' || {expr}")


def perm_md5_long(col: Column | str, perm: int) -> Column:
    """Permutation family at HALF the hashing cost of one md5 per perm.

    md5 yields 128 bits but a 60-bit value only consumes 15 hex chars, so
    one digest carries TWO independent uniform values: permutation ``2s``
    reads hex chars 1-15 and permutation ``2s+1`` reads chars 16-30 of
    ``md5(s:x)``. At 100 TB the per-shingle hash work is the dominant CPU
    cost of MinHash signatures; this halves it with no loss of
    independence (distinct md5 output bits are independent).
    """
    c = F.col(col) if isinstance(col, str) else col
    salt, half = divmod(perm, 2)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c)), 1 + 15 * half, 15),
        16,
        10,
    ).cast("long")


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a money-like double, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def exact_avg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent mean: exact decimal sum / count, divided as doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, scale) / F.count(c)


def dot_product_col(a: Column, b: Column) -> Column:
    """Dot product of two ``array<float>`` columns, accumulated in array
    order as doubles (deterministic; matches DuckDB list iteration)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<float>`` columns (double math).
    A zero-norm side gives null, not a DIVIDE_BY_ZERO error under ANSI
    mode (``try_divide`` evaluates each norm fold once)."""
    return F.try_divide(
        dot_product_col(a, b),
        F.sqrt(dot_product_col(a, a)) * F.sqrt(dot_product_col(b, b)),
    )
