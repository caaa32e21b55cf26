"""Ingest tests: byte-identical text extraction, exact edge round-trip,
contiguous id assignment (FIXTURES.md §1; north-star invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from alp_spark.sources import (
    assign_contiguous_ids,
    build_edge_table,
    extract_text_udf,
    synthesize_pages,
)
from alp_spark.sources.pages import url_of

from .fixtures import edges_df, g10_line_hub


def test_text_extraction_byte_identical(spark):
    n, edges = g10_line_hub()
    pages = synthesize_pages(spark, n, edges_df(spark, edges)).persist()
    mismatches = (
        pages.withColumn("extracted", extract_text_udf(F.col("html")))
        .where(F.col("extracted") != F.col("text"))
        .count()
    )
    assert mismatches == 0
    # and byte-level (binary cast) equality, not just string equality
    bin_mismatch = (
        pages.withColumn("extracted", extract_text_udf(F.col("html")))
        .where(
            F.col("extracted").cast("binary") != F.col("text").cast("binary")
        )
        .count()
    )
    assert bin_mismatch == 0
    pages.unpersist()


def test_edge_round_trip_exact(spark):
    n, edges = g10_line_hub()
    pages = synthesize_pages(spark, n, edges_df(spark, edges))
    got_edges, id_map = build_edge_table(pages)
    # id dictionary is url-sorted ⇒ page_id order preserved (urls embed
    # zero-padded ids), so extracted (src,dst) == fixture edges exactly
    ids = {r["url"]: r["id"] for r in id_map.collect()}
    assert ids == {url_of(i): i for i in range(n)}
    got = {(r["src"], r["dst"]) for r in got_edges.collect()}
    assert got == set(edges)


def test_assign_contiguous_ids_properties(spark):
    urls = spark.createDataFrame(
        [(f"u{i % 7:03d}",) for i in range(50)], "url string"
    )
    m, n = assign_contiguous_ids(urls)
    rows = m.collect()
    assert len(rows) == n == 7
    assert sorted(r["id"] for r in rows) == list(range(7))
    # deterministic across invocations
    again = {r["url"]: r["id"] for r in assign_contiguous_ids(urls)[0].collect()}
    assert again == {r["url"]: r["id"] for r in rows}


def test_assign_contiguous_ids_empty_input(spark):
    urls = spark.createDataFrame([], "url string")
    m, n = assign_contiguous_ids(urls)
    assert n == 0
    assert m.collect() == []
    assert m.columns == ["url", "id"]


def test_assign_contiguous_ids_independent_of_partitions(spark):
    # 3 distinct urls, 40 copies each: the range exchange dedups them
    # in place, and at 8 shuffle partitions the range partitioner cuts
    # more partitions than there are urls, so some stay empty and have
    # no stats row. Coalescing is off so the partition count is the
    # one asked for.
    urls = spark.createDataFrame(
        [(f"http://h/{i % 3}",) for i in range(120)], "url string"
    )
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    old = [spark.conf.get(k) for k in keys]
    got = {}
    try:
        spark.conf.set(keys[1], "false")
        for p in (2, 8):
            spark.conf.set(keys[0], str(p))
            m, n = assign_contiguous_ids(urls)
            got[p] = {r["url"]: r["id"] for r in m.collect()}
            assert n == 3
            if p == 8:
                assert m.rdd.getNumPartitions() > 3
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    assert got[2] == got[8] == {f"http://h/{i}": i for i in range(3)}


def test_pages_schema_and_lang(spark):
    n, edges = g10_line_hub()
    pages = synthesize_pages(spark, n, edges_df(spark, edges))
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    langs = {r["url"]: r["lang"] for r in pages.select("url", "lang").collect()}
    assert langs[url_of(3)] == "de" and langs[url_of(0)] == "en"


def test_bucketed_sink_joins_without_exchange(spark):
    # bucketed tables co-locate: the src-equi-join of two tables
    # bucketed the same way must plan with ZERO Exchange, and results
    # must equal the plain join (sources/sinks.py — the pay-the-
    # shuffle-once ingest form)
    from pyspark.sql import functions as F

    from alp_spark.sources import read_bucketed, write_bucketed

    e = spark.range(500).select(
        (F.col("id") % 53).alias("src"), (F.col("id") % 47).alias("dst")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(e, "t_edges_a", 4)
        write_bucketed(e.select("src", (F.col("dst") + 1).alias("dst")), "t_edges_b", 4)
        a, b = read_bucketed(spark, "t_edges_a"), read_bucketed(spark, "t_edges_b")
        j = a.join(b, on="src")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        want = e.join(
            e.select("src", (F.col("dst") + 1).alias("dst")), on="src"
        ).count()
        assert j.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS t_edges_a")
        spark.sql("DROP TABLE IF EXISTS t_edges_b")


def test_assign_contiguous_ids_stays_in_dataframe_land(spark, tmp_path):
    # VERDICT r3 item 9: the id map must not round-trip through RDD or
    # Python-worker serialisation. It is one projection over the eager
    # localCheckpoint of the indexed layout (ADVICE r4: fail-stop
    # against recompute drift), which prints as a Scan ExistingRDD of
    # the JVM-materialized (url, _pid, _mid) rows: no joined-back
    # offset table, no Python-built relation.
    path = str(tmp_path / "urls")
    spark.createDataFrame(
        [(f"http://h/{i % 7}",) for i in range(50)], "url string"
    ).write.parquet(path)
    m, n = assign_contiguous_ids(spark.read.parquet(path))
    got = {r["url"]: r["id"] for r in m.collect()}
    # global url-sort rank, contiguous from 0
    assert got == {u: i for i, u in enumerate(sorted(got))} and n == 7
    qe = m._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    import re

    assert re.findall(r"ExistingRDD\[[^\]]*\]", plan) == [
        re.search(r"ExistingRDD\[url#\d+,_pid#\d+,_mid#\d+L\]", plan).group(0)
    ], plan
    assert "Join" not in plan and "LocalTableScan" not in plan, plan
    leaves = qe.optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        assert "PythonRDD" not in leaves.apply(i).rdd().toDebugString()
