"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (``zip_with`` / ``aggregate`` run inside codegen; no UDF, no
driver-side math). Feeds :mod:`mta_rtf_dbt_spark.operators.similarity`.

All arithmetic is done in double precision regardless of the storage type so
results are reproducible against an ANSI-SQL oracle computing in DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def unit(a: Column) -> Column:
    """L2-normalize (NULL-safe: zero vectors stay as-is)."""
    n = norm(a)
    return F.when(n > 0, F.transform(_to_double(a), lambda x: x / n)).otherwise(_to_double(a))
