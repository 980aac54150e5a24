"""Plan-quality gates: the properties that decide whether these jobs
survive a 100× scale-up, asserted on the actual physical plans."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from paddleocr_spark.operators import relational, text
from paddleocr_spark.plans.inspect import (
    count_exchanges,
    has_broadcast_join,
    has_partial_aggregate,
    has_sort_merge_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_clean_boilerplate_prunes_columns(spark):
    """The documents scan must read only doc_id + text — not lang/
    source/n_chars."""
    df = text.clean_documents(spark, SF)
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    assert set(schemas[0]) == {"doc_id", "text"}


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = relational.pricing_summary(spark, SF)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert has_partial_aggregate(df)
    schemas = scan_read_schema(df)
    assert all("l_partkey" not in s for s in schemas)  # pruned


def test_revenue_by_region_all_broadcast(spark):
    """The star join hints only the TRUE dimensions (region/nation);
    at this sf the size-based planner broadcasts the small fact sides
    too — no sort-merge join, and the only shuffle is the final
    aggregation. At larger sf the fact joins are allowed to shuffle
    (forcing them broadcast was the bug)."""
    df = relational.revenue_by_region(spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    assert count_exchanges(df) <= 2  # partial->final agg (+AQE read)


def test_extract_shuffle_budget(spark):
    """Flagship extract on the production media-store path: fragments
    join + final per-doc window; the fat tensor columns must not
    appear past the decode stage."""
    docs_path, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    from paddleocr_spark.operators.extract import extract_spans

    df = extract_spans(spark.read.parquet(docs_path), media_path)
    import re

    from paddleocr_spark.plans.inspect import formatted_plan

    plan = formatted_plan(df)
    # the per-doc window must consume only small string columns — the
    # fat tensor columns (det_map, rec_logits) stop at the decode UDF
    m = re.search(r"^\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan,
                  re.MULTILINE)
    assert m, "no Window node found"
    window_inputs = m.group(1)
    assert "det_map" not in window_inputs
    assert "rec_logits" not in window_inputs
    # shuffles: media distinct-refs side, join, window partition —
    # bounded, not data-dependent
    assert count_exchanges(df) <= 5
    # the decode output is never planned as a broadcast build side (a
    # left outer join can only build its right side, the fragments)
    assert "BroadcastHashJoin" not in plan


def test_media_store_planning_from_manifest(spark, tmp_path):
    """Store decode plans from the manifest alone: no Catalyst scan
    points at the media data directory (its files are read
    executor-side via pyarrow pointer passing), and a stray parquet
    file left in a copy of the store but missing from its manifest is
    never read."""
    import os as _os
    import re
    import shutil

    import pyarrow.parquet as pq

    from paddleocr_spark.functions.udfs import (
        decode_media_store,
        manifest_path,
        map_media_store,
    )
    from paddleocr_spark.plans.inspect import formatted_plan

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    plan = formatted_plan(decode_media_store(spark, media_path))
    locs = re.findall(r"Location: \S+ \[([^\]]*)\]", plan)
    assert not [loc for loc in locs
                if loc.rstrip("/").endswith(media_path.rstrip("/"))], plan

    copy = str(tmp_path / "media")
    shutil.copytree(media_path, copy)
    shutil.copytree(manifest_path(media_path), manifest_path(copy))
    first = sorted(f for f in _os.listdir(copy) if f.endswith(".parquet"))[0]
    stray = _os.path.join(copy, "part-99999-stray.parquet")
    shutil.copy(_os.path.join(copy, first), stray)
    assert pq.ParquetFile(stray).metadata.num_rows > 0

    def refs(store):
        return sorted(r.media_ref for r in map_media_store(
            spark, store, lambda batches: batches, "media_ref string",
            columns=["media_ref"]).collect())

    assert refs(copy) == refs(media_path)


def test_store_without_manifest_refused(spark, tmp_path):
    """A store that never wrote a manifest is an error naming the fix,
    not a silent fallback to listing the filesystem."""
    import pytest

    from paddleocr_spark.functions.udfs import decode_media_store

    store = str(tmp_path / "bare_store")
    spark.range(3).write.parquet(store)
    with pytest.raises(ValueError, match="write_store_manifest"):
        decode_media_store(spark, store)


def test_manifest_packing_plans_on_driver(spark):
    """Task packing is driver-side: the packed-files plan has no
    Exchange and no Window, and building it starts no Spark job."""
    from paddleocr_spark.functions.udfs import _store_files_df
    from paddleocr_spark.plans.inspect import formatted_plan

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    sc = spark.sparkContext
    group = "manifest_packing_plans_on_driver"
    sc.setJobGroup(group, group)
    try:
        files_df = _store_files_df(spark, media_path, n_tasks=8)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert count_exchanges(files_df) == 0
        assert "Window" not in formatted_plan(files_df)
        # control: the job group does record jobs run under it
        assert files_df.count() > 0
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_manifest_packing_is_byte_balanced(spark):
    """Task packing from the manifest must track BYTES: no task's byte
    total may exceed 2x the ideal share plus one file (the worst case
    of contiguous range packing)."""
    import os as _os

    from pyspark.sql import functions as F

    from paddleocr_spark.functions.udfs import _store_files_df

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    files_df = _store_files_df(spark, media_path, n_tasks=4)
    rows = (files_df.select(F.spark_partition_id().alias("pid"), "path")
            .collect())
    by_task: dict[int, int] = {}
    for r in rows:
        by_task[r.pid] = by_task.get(r.pid, 0) + _os.path.getsize(r.path)
    tot = sum(by_task.values())
    max_file = max(_os.path.getsize(r.path) for r in rows)
    assert max(by_task.values()) <= tot / 4 * 2 + max_file, by_task


def test_bm25_plan_shape(spark):
    """BM25: query terms and corpus stats broadcast (no shuffled join
    for the tiny sides), no CartesianProduct, the documents scan reads
    only doc_id + text — and there is exactly ONE parquet scan of
    documents (stats ride the sentinel rows through the cached grouped
    relation; the naive form tokenizes the corpus twice)."""
    import re

    from paddleocr_spark.operators.retrieval import bm25_topk
    from paddleocr_spark.plans.inspect import formatted_plan

    df = bm25_topk(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    schemas = scan_read_schema(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 1, plan
    for s in schemas:
        assert set(s) <= {"doc_id", "text"}, s


def test_simhash_single_aggregation_pass(spark):
    """The simhash rewrite must be one map-side-combinable groupBy: no
    bit-explode row amplification, at most the agg exchange."""
    from paddleocr_spark.operators import dedup

    df = dedup.simhash32(spark, SF)
    plan = __import__(
        "paddleocr_spark.plans.inspect", fromlist=["formatted_plan"]
    ).formatted_plan(df)
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pairs_never_cartesian(spark):
    """Banded LSH candidates must be an equi-join on (band, band_hash),
    never an all-pairs product."""
    from paddleocr_spark.operators import dedup, similarity
    from paddleocr_spark.plans.inspect import formatted_plan

    for df in (dedup.lsh_candidate_pairs(spark, SF),
               similarity.embedding_near_dups(spark, SF)):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_block_join_never_cartesian(spark):
    """SimHash hamming pairs must come from the (block, value)
    equi-join — the brute-force O(N²) hamming product lives only in
    the DuckDB oracle."""
    from paddleocr_spark.operators import dedup
    from paddleocr_spark.plans.inspect import formatted_plan

    plan = formatted_plan(dedup.simhash_near_dups(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located layout: both sides bucketed on the join key must
    sort-merge join with ZERO Exchange before the aggregation — the
    once-at-write shuffle is the whole point of the layout. Broadcast
    is disabled so the test proves the bucketing, not the small-table
    escape hatch; the raw-parquet control join must need exchanges."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators import bucketing
    from paddleocr_spark.plans.inspect import formatted_plan

    orders_t, lineitem_t = bucketing.ensure_bucketed_pair(spark, SF)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table(orders_t), spark.table(lineitem_t)
        joined = li.join(o, li.l_orderkey == o.o_orderkey) \
                   .select("o_orderpriority", "l_extendedprice")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucket-co-located: no shuffle

        ro = spark.read.parquet(f"{SF}/orders.parquet")
        rli = spark.read.parquet(f"{SF}/lineitem.parquet")
        control = rli.join(ro, rli.l_orderkey == ro.o_orderkey) \
                     .select("o_orderpriority", "l_extendedprice")
        assert "Exchange" in formatted_plan(control)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_agg_matches_raw_join(spark):
    """Layout changes the plan, never the values."""
    from paddleocr_spark.operators import bucketing

    got = bucketing.bucketed_join_agg(spark, SF).collect()
    from pyspark.sql import functions as F

    ro = spark.read.parquet(f"{SF}/orders.parquet")
    rli = spark.read.parquet(f"{SF}/lineitem.parquet")
    exp = (rli.join(ro, rli.l_orderkey == ro.o_orderkey)
           .groupBy("o_orderpriority")
           .agg(F.count("*").cast("long").alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                F.countDistinct("o_orderkey").alias("n_orders"))
           .orderBy("o_orderpriority")).collect()
    assert got == exp and len(got) >= 2


def test_bucketed_reattach_preserves_mapping_and_plan(spark):
    """Write-once production shape: dropping the catalog entries and
    re-attaching the SAME files via DDL must keep the join both
    shuffle-free and value-identical (a wrong bucket-id <-> file
    mapping would silently drop join rows)."""
    from paddleocr_spark.operators import bucketing
    from paddleocr_spark.plans.inspect import formatted_plan

    orders_t, lineitem_t = bucketing.ensure_bucketed_pair(spark, SF)
    before = sorted(map(tuple,
                        bucketing.bucketed_join_agg(spark, SF).collect()))
    for t in (orders_t, lineitem_t):
        spark.sql(f"DROP TABLE {t}")
    reattached = bucketing.ensure_bucketed_pair(spark, SF)
    assert reattached == (orders_t, lineitem_t)
    after = sorted(map(tuple,
                       bucketing.bucketed_join_agg(spark, SF).collect()))
    assert after == before
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table(orders_t), spark.table(lineitem_t)
        plan = formatted_plan(
            li.join(o, li.l_orderkey == o.o_orderkey)
              .select("o_orderpriority", "l_extendedprice"))
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_scan_prunes_at_planning_time(spark):
    """The day window must land in the scan's PartitionFilters
    (planning-time directory elimination), and only the 10 in-window
    day partitions of 30 may survive into the scan's file listing."""
    import re

    from pyspark.sql import functions as F

    from paddleocr_spark.operators import partitioning
    from paddleocr_spark.plans.inspect import formatted_plan

    path = partitioning.ensure_partitioned_events(spark, SF)
    ev = spark.read.parquet(path)
    pruned = ev.where(F.col("event_day").between(
        partitioning.DAY_LO, partitioning.DAY_HI))
    plan = formatted_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_day" in m.group(1), plan
    # behavioral proof: the files the scan actually touches cover
    # exactly the 10 in-window day directories (inputFiles() reports
    # the relation's full listing, so probe the executed scan instead)
    touched = lambda df: {
        int(re.search(r"event_day=(\d+)", r[0]).group(1))
        for r in df.select(F.input_file_name()).distinct().collect()}
    assert touched(pruned) == set(range(partitioning.DAY_LO,
                                        partitioning.DAY_HI + 1))
    assert len(touched(ev)) == 30


def test_codegen_spans_exist(spark):
    """AQE defers codegen compilation, so probe with AQE off."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = relational.pricing_summary(spark, SF)
        assert wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_html_pipeline_prunes_columns(spark):
    """The HTML construction must read only doc_id + text from the
    documents scan — a page builder that drags lang/source/n_chars
    through the Arrow stage reads 2x the bytes for nothing."""
    from paddleocr_spark.operators import html_extract

    df = html_extract.html_main_content(spark, SF)
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    assert all(set(s) <= {"doc_id", "text"} for s in schemas), schemas


def test_pagerank_no_cartesian_beyond_count_broadcast(spark):
    """Each PageRank round must be equi-joins + one map-side-
    combinable sum. The ONLY nested-loop join allowed is the
    broadcast of the one-row corpus-count used by the link formulas
    and the damping base."""
    from paddleocr_spark.operators import html_extract
    from paddleocr_spark.plans.inspect import formatted_plan

    df = html_extract.html_pagerank(spark, SF, iters=2,
                                    checkpoint=False)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_bucket_count_mismatch_refused(spark, tmp_path):
    """Re-attaching bucketed files with a different bucket count must
    raise — a mismatched declaration silently drops join rows."""
    import pytest

    from paddleocr_spark.operators.bucketing import (
        register_bucketed,
        write_bucketed,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    path = str(tmp_path / "b")
    write_bucketed(df, "bspec_t1", path, "k", n_buckets=8)
    spark.sql("DROP TABLE IF EXISTS bspec_t1")
    with pytest.raises(ValueError, match="8 buckets"):
        register_bucketed(spark, "bspec_t2", path, "k", n_buckets=4)
    # wrong clustering key: the files were hashed on k, so declaring
    # CLUSTERED BY (v) would silently join against the wrong buckets
    df2 = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    path2 = str(tmp_path / "b2")
    write_bucketed(df2, "bspec_t4", path2, "k", n_buckets=8)
    spark.sql("DROP TABLE IF EXISTS bspec_t4")
    with pytest.raises(ValueError, match="hashed on"):
        register_bucketed(spark, "bspec_t5", path2, "v", n_buckets=8)
    register_bucketed(spark, "bspec_t3", path, "k", n_buckets=8)
    assert spark.table("bspec_t3").count() == 100
    # unsorted write -> the DDL must NOT claim SORTED BY
    ddl = spark.sql("SHOW CREATE TABLE bspec_t3").collect()[0][0]
    assert "SORTED BY" not in ddl, ddl
    spark.sql("DROP TABLE IF EXISTS bspec_t3")
    spark.sql("DROP TABLE IF EXISTS bspec_t5")


def test_pdf_text_single_python_crossing(spark):
    """Text-PDF extraction: the binaryFile scan feeds ONE Arrow-batched
    mapInPandas (bytes → runs) and the page assembly is pure Catalyst —
    exactly one Python crossing and one aggregation shuffle, so the
    plan is scan → UDF → partial agg → exchange → final agg at any
    corpus size."""
    import re

    from paddleocr_spark.plans.inspect import formatted_plan
    from paddleocr_spark.sources import pdf_text_store

    def n_crossings(df):
        # count node DETAIL headers — the formatted plan prints each
        # node once in the tree and once in the detail section
        return len(re.findall(r"^\(\d+\) MapInPandas",
                              formatted_plan(df), re.MULTILINE))

    runs = pdf_text_store.pdf_text_runs(spark, SF)
    assert n_crossings(runs) == 1, formatted_plan(runs)
    assert count_exchanges(runs) == 0

    page = pdf_text_store.pdf_page_text(spark, SF)
    assert n_crossings(page) == 1, formatted_plan(page)
    assert has_partial_aggregate(page)
    assert count_exchanges(page) <= 1
