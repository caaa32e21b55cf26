"""Vector / matrix containers as DataFrames.

Reference parity: grb::Vector (base/vector.hpp) ↔ DataFrame ``(id:long,
val:T)`` where an absent row is a structurally-unassigned entry and
"dense" ⇔ ``count()==n``; grb::Matrix (base/matrix.hpp) ↔ edge DataFrame
``(src:long, dst:long[, val:T])`` where a missing ``val`` column is a
pattern matrix (grb::Matrix<void>, base/blas2.hpp:105-107).

Container/IO primitives from base/io.hpp (SURVEY.md §2.3) map to the
helpers below; ``clear`` ↔ :func:`empty_vector`, ``set`` (4 overloads,
io.hpp:857-1059) ↔ :func:`set_dense` / :func:`set_masked`,
``setElement`` (io.hpp:1128) ↔ :func:`set_element`,
``buildVector`` (io.hpp:1158) ↔ :func:`build_vector`,
``buildMatrixUnique`` (io.hpp:1336) ↔ :func:`build_matrix`.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .algebra import Monoid

ID = "id"
VAL = "val"
SRC = "src"
DST = "dst"

_SPARK_TYPES = {
    "double": T.DoubleType(),
    "long": T.LongType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "string": T.StringType(),
}


def vector_schema(val_type: str = "double") -> T.StructType:
    return T.StructType(
        [
            T.StructField(ID, T.LongType(), False),
            T.StructField(VAL, _SPARK_TYPES[val_type], True),
        ]
    )


def matrix_schema(val_type: str | None = None) -> T.StructType:
    fields = [
        T.StructField(SRC, T.LongType(), False),
        T.StructField(DST, T.LongType(), False),
    ]
    if val_type is not None:
        fields.append(T.StructField(VAL, _SPARK_TYPES[val_type], True))
    return T.StructType(fields)


def build_vector(
    spark: SparkSession,
    entries: Iterable[tuple[int, object]],
    val_type: str = "double",
    dedup_monoid: Monoid | None = None,
) -> DataFrame:
    """buildVector (io.hpp:1158): ingest (id, val) pairs; duplicates are
    ⊕-combined when a monoid is given (buildVectorUnique otherwise)."""
    df = spark.createDataFrame(list(entries), schema=vector_schema(val_type))
    if dedup_monoid is not None:
        df = df.groupBy(ID).agg(dedup_monoid.agg(F.col(VAL)).alias(VAL))
    return df


def empty_vector(spark: SparkSession, val_type: str = "double") -> DataFrame:
    """clear (io.hpp:574): remove all entries, size metadata unchanged."""
    return spark.createDataFrame([], schema=vector_schema(val_type))


def set_dense(spark: SparkSession, n: int, value: object) -> DataFrame:
    """set(x, val) dense overload (io.hpp:857): broadcast a scalar to all n
    entries. ``spark.range`` is a parallel, shuffle-free source; the
    partition count is size-derived (guide §2 — n rows of (id,val) need
    parallelism proportional to n, not the core count)."""
    from .plans.partitions import vertex_ids

    return vertex_ids(spark, n).select(ID, F.lit(value).alias(VAL))


def set_element(spark: SparkSession, i: int, value: object) -> DataFrame:
    """setElement (io.hpp:1128) on an empty vector: the one entry
    ``{i: value}``, built on the JVM from ``spark.range``, so reading it
    runs no Python-worker stage (``build_vector``'s local list does)."""
    # layout: one row in one partition, not an n-row state vector
    return spark.range(i, i + 1, 1, 1).select(ID, F.lit(value).alias(VAL))


def set_masked(
    base: DataFrame, mask: DataFrame, value: object, invert: bool = False
) -> DataFrame:
    """Masked set (io.hpp:919): overwrite entries selected by a structural
    mask with a scalar; semi/anti-join keeps it shuffle-minimal."""
    how = "left_anti" if invert else "left_semi"
    hit = base.join(mask.select(ID), on=ID, how=how).select(
        ID, F.lit(value).alias(VAL)
    )
    rest = base.join(mask.select(ID), on=ID, how="left_semi" if invert else "left_anti")
    return hit.unionByName(rest)


def build_matrix(
    spark: SparkSession,
    edges: Iterable[Sequence],
    val_type: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """buildMatrixUnique (io.hpp:1336, reference/matrix.hpp:245-291): one-shot
    COO ingest. PARALLEL IOMode ≙ a distributed read; the CRS bucket build ≙
    ``repartition(hash(src))`` so downstream src-joins are co-located."""
    df = spark.createDataFrame([tuple(e) for e in edges], schema=matrix_schema(val_type))
    if n_buckets:
        df = df.repartition(n_buckets, SRC)
    return df


def transpose(A: DataFrame) -> DataFrame:
    """transpose_matrix descriptor (descriptors.hpp:71): free column swap —
    the analog of ALP's dual CRS+CCS storage (reference/matrix.hpp:912)."""
    cols = [F.col(DST).alias(SRC), F.col(SRC).alias(DST)] + (
        [F.col(VAL)] if VAL in A.columns else []
    )
    return A.select(*cols)


def add_identity(A: DataFrame, spark: SparkSession, n: int) -> DataFrame:
    """add_identity descriptor (descriptors.hpp:159, used by knn.hpp:129-135):
    treat A as A + I — union the diagonal onto the edge table."""
    from .plans.partitions import vertex_ids

    diag = vertex_ids(spark, n).select(F.col(ID).alias(SRC), F.col(ID).alias(DST))
    if VAL in A.columns:
        diag = diag.withColumn(VAL, F.lit(1).cast(A.schema[VAL].dataType))
    return A.unionByName(diag).dropDuplicates([SRC, DST])


def nnz(df: DataFrame) -> int:
    """nnz (io.hpp:479): entry count — a Spark action."""
    return df.count()
