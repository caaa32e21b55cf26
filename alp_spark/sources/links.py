"""Pages → (src, dst) edge table (SURVEY.md §7 step 1).

pages --extract_links_udf--> (src_url, dst_url) --id dictionary join-->
(src, dst) long ids, deduplicated, hash-partitioned by src (the analog of
buildMatrixUnique's bucket ingest, reference/matrix.hpp:245-291).

Scale notes: both dictionary joins go through the one broadcast gate
(:func:`~alp_spark.operators.blas2.broadcast_if_fits`) with the
dictionary's driver-known size ``n``: broadcast up to its bound, plain
shuffle joins on the url key above it; dedup happens in the same
shuffle as the final src partition. Dangling link targets (urls
never crawled) are dropped by the inner join — matching the closed-world
vertex set the reference requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blas2 import broadcast_if_fits
from .extract import extract_links_udf
from .ids import assign_contiguous_ids


def extract_edges(pages: DataFrame) -> DataFrame:
    """(url, html) → (src_url, dst_url), one row per hyperlink."""
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(extract_links_udf(F.col("html"))).alias("dst_url"),
        )
    )


def build_edge_table(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingest: returns (edges(src,dst), id_map(url,id)), self-loops
    dropped. ``id_map`` is :func:`assign_contiguous_ids`' map."""
    id_map, n = assign_contiguous_ids(pages.select("url"))
    raw = extract_edges(pages)
    src_ids = id_map.select(F.col("url").alias("src_url"), F.col("id").alias("src"))
    dst_ids = id_map.select(F.col("url").alias("dst_url"), F.col("id").alias("dst"))
    edges = (
        raw.join(broadcast_if_fits(src_ids, n), on="src_url")
        .join(broadcast_if_fits(dst_ids, n), on="dst_url")
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return edges, id_map
