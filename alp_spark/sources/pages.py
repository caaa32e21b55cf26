"""Deterministic synthetic pages table (FIXTURES.md §1).

Generates Common-Crawl-style rows ``(url, warc_ts, html, text, lang)``
from a golden edge list so that pages → extracted (src,dst) edges round-
trips exactly. The ``text`` column is the golden extraction the engine's
extractor must reproduce **byte-identically per url**.

Generation is distributed: ``spark.range(n)`` partitions the id space and
a pandas UDF renders html per batch — the same shape a 10^12-page
synthesis would use (no driver-side loops; out-links are joined in as a
grouped array column).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_DOMAINS = 50
_VOCAB = (
    "graph link rank crawl page web index node edge spark data scale "
    "query join shuffle batch vector matrix iterate converge partition"
).split()

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def url_of(page_id: int, n_domains: int = N_DOMAINS) -> str:
    return f"https://site{page_id % n_domains:04d}.example/p/{page_id:05d}"


def _paragraph(page_id: int, k: int) -> str:
    rng = np.random.default_rng(page_id * 1000 + k)
    words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), size=8)]
    return " ".join(words)


def render_page(page_id: int, out_links: list[int]) -> tuple[bytes, str]:
    """Render html + golden extracted text for one page. The golden text is
    title, paragraphs and anchor texts in document order, newline-joined —
    the extractor contract."""
    title = f"Page {page_id}"
    paras = [_paragraph(page_id, k) for k in range(2)]
    anchors = [(url_of(d), f"link to {d}") for d in out_links]
    html = (
        f"<html><head><title>{title}</title></head><body>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "".join(f'<a href="{u}">{t}</a>' for u, t in anchors)
        + "</body></html>"
    )
    text = "\n".join([title] + paras + [t for _, t in anchors])
    return html.encode("utf-8"), text


def synthesize_pages(
    spark: SparkSession, n: int, edges: DataFrame, partitions: int | None = None
) -> DataFrame:
    """Build the pages table for vertex ids 0..n-1 with out-links taken
    from ``edges (src, dst)``."""
    links = edges.groupBy(F.col("src").alias("page_id")).agg(
        F.sort_array(F.collect_list("dst")).alias("out")
    )
    # layout: Spark's default parallelism — the per-row html rendering
    # below is CPU-bound and needs every core, not a size-derived count
    base = spark.range(n).select(F.col("id").alias("page_id"))
    if partitions:
        base = base.repartition(partitions, "page_id")
    with_links = base.join(links, on="page_id", how="left")

    def render(batches):
        for pdf in batches:
            rows = []
            for pid, out in zip(pdf["page_id"], pdf["out"]):
                out = [] if out is None else [int(x) for x in out]
                html, text = render_page(int(pid), out)
                rows.append(
                    (
                        url_of(int(pid)),
                        pd.Timestamp("2025-01-01", tz="UTC") + pd.Timedelta(seconds=int(pid)),
                        html,
                        text,
                        "en" if pid % 10 != 3 else "de",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return with_links.mapInPandas(render, schema=PAGES_SCHEMA)
