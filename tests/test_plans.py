"""Physical-plan structure audits: the properties that decide whether
a query survives a 100x scale-up — filters pushed to the parquet scan,
column pruning in ReadSchema, small dims broadcast, partial (map-side)
aggregation, top-k as TakeOrderedAndProject instead of a full sort.
Correctness tests can't see these; a regression here is a silent
10-100x cost at scale with identical results."""

from __future__ import annotations

from webarchive_indexing_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _probe_plan(spark, sf_dir, name: str, monkeypatch):
    """A registered ANN probe query's plan on the Spark path, and what
    its driver path read.  Every probe-kernel call runs twice over the
    same store: first below the driver-read bound, each
    ``_driver_read`` recorded as (table dir, files opened, columns,
    id filter), then with ``_driver_read_bytes`` 0, whose Spark
    DataFrame the query returns."""
    from webarchive_indexing_spark.sinks import ann_index

    reads = []
    read, probe = ann_index._driver_read, ann_index._probe

    def spy(fs, table_dir, files, columns=None, **kw):
        scanner, schema = read(fs, table_dir, files, columns, **kw)
        reads.append((
            table_dir, [f.path for f in files], scanner.projected_schema.names,
            kw.get("isin"),
        ))
        return scanner, schema

    def both(*args, **kwargs):
        probe(*args, **kwargs).collect()
        with monkeypatch.context() as m:
            m.setattr(ann_index, "_driver_read_bytes", lambda _spark: 0)
            return probe(*args, **kwargs)

    monkeypatch.setattr(ann_index, "_driver_read", spy)
    monkeypatch.setattr(ann_index, "_probe", both)
    return _plan(spark, sf_dir, name), reads


def _assert_driver_reads(plan: str, reads, *, has=(), lacks=(), by_id=False):
    """The driver twin of a probe plan's scan assertions: the driver
    read the table the plan's first FileScan reads, and opened only
    files of the cells its PartitionFilters keep; its columns include
    ``has`` and none of ``lacks``; ``by_id``: it kept rows by an id
    filter, as the scan's pushed ``In`` does."""
    import re

    scan = plan.split("FileScan parquet", 1)[1]
    table = scan.split("Location:", 1)[1].split("[", 1)[1].split("]", 1)[0]
    table = table.removeprefix("file:")
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    m = re.search(r"cell#\d+ IN \(([\d,]+)\)", part) or re.search(
        r"cell#\d+ = (\d+)", part
    )
    cells = {int(c) for c in m.group(1).split(",")}
    mine = [r for r in reads if r[0] == table]
    assert mine, (table, [r[0] for r in reads])
    for _dir, files, cols, isin in mine:
        assert files, table
        opened = {int(f[len(table):].split("/")[1].removeprefix("cell=")) for f in files}
        assert opened <= cells, (opened, cells)
        assert all(c in cols for c in has), cols
        assert not any(c in cols for c in lacks), cols
        assert (isin is not None) == by_id, isin


def test_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_status")
    assert "PushedFilters: [" in plan
    # the status predicate must reach the parquet reader, not sit in a
    # post-scan Filter only
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_" in pushed or "Is" in pushed or "Equal" in pushed, pushed


def test_column_pruning_in_read_schema(spark, sf_dir):
    plan = _plan(spark, sf_dir, "proj_fields")
    assert "ReadSchema" in plan
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    # lineitem has 16 columns; a pruned scan reads only the projected few
    assert schema.count(",") < 8, f"scan reads too many columns: {schema}"


def test_small_dim_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # Catalyst plants a partial HashAggregate below the exchange and a
    # final one above — map-side combine at any scale
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_desc")
    assert "TakeOrderedAndProject" in plan
    # a global Sort + Limit would be the scale bug this guards against
    assert "rangepartitioning" not in plan.lower()


def test_semi_and_anti_never_materialize_right_rows(spark, sf_dir):
    for name in ("join_semi", "join_anti"):
        plan = _plan(spark, sf_dir, name)
        assert "Semi" in plan or "Anti" in plan, f"{name}: {plan[:300]}"


def test_exact_dedup_shuffles_hashes_not_documents(spark, sf_dir):
    # the groupBy key is md5(text); the wide text column must not be
    # carried through the exchange.  The Exchange node only prints its
    # partitioning, so inspect the PARTIAL aggregate feeding it — its
    # output list is exactly what crosses the wire.
    import re

    df = REGISTRY["dedup_exact_groups"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan, "expected a hash exchange"
    partials = re.findall(r"HashAggregate\(keys=.*?partial_.*?output=\[([^\]]*)\]", plan)
    assert partials, "expected a partial (map-side) aggregate below the exchange"
    for out in partials:
        assert "text#" not in out, f"raw text crosses the shuffle: {out}"


def test_banded_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the whole point of the banding rewrite: the range predicate must
    # ride an equi (hash/sort-merge/broadcast-hash) join on the bucket
    # id, never a nested-loop scan of all pairs
    plan = _plan(spark, sf_dir, "join_range_banded")
    assert "NestedLoop" not in plan, plan[:800]
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_lsh_join_buckets_are_map_side(spark, sf_dir):
    # bucket assignment must be a projection, not a join back on
    # vec_id: the ONLY join in the plan is the bucket self-join
    import re

    plan = _plan(spark, sf_dir, "emb_lsh_join")
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)
    # AQE plans print both the final and initial plan; count the final
    final = plan.split("== Initial Plan ==", 1)[0]
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", final)
    assert len(joins) == 1, f"expected only the bucket self-join: {joins}"


def test_hash_sample_is_scan_only(spark, sf_dir):
    # deterministic sampling must stay a map-side filter on the scan:
    # any Exchange would mean the "sample" costs a full shuffle at 100 TB
    plan = _plan(spark, sf_dir, "sample_hash_det")
    assert "Exchange" not in plan, plan[:500]
    assert "Filter" in plan


def test_centroid_means_partial_aggregates(spark, sf_dir):
    # the x64 posexplode must collapse to partial sums BEFORE the
    # exchange — the shuffle carries centroids, not exploded vectors
    plan = _plan(spark, sf_dir, "emb_centroid_means")
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2
    assert "Generate" in plan  # the posexplode
    gen_after_exchange = plan.split("Exchange", 1)[1] if "Exchange" in plan else ""
    assert "Generate" in gen_after_exchange, (
        "posexplode must sit below the exchange (map side)"
    )


def test_global_rank_stays_parallel_and_narrow(spark, sf_dir):
    # zipnum_shard_plan ranks the whole table: the two-pass rank must
    # never plant an Exchange SinglePartition (the scale killer a bare
    # Window.orderBy would cause), and the ranking pass itself must sit
    # directly on the pinned range partitions — since the switch to
    # localCheckpoint (ContextCleaner-reclaimable, see global_rank.py)
    # the pinned source renders as "Scan ExistingRDD" — with no extra
    # exchange or re-sort between MapInPandas and that source.
    plan = _plan(spark, sf_dir, "zipnum_shard_plan")
    assert "SinglePartition" not in plan, plan[:500]
    assert "MapInPandas" in plan
    final = plan.split("== Initial Plan ==", 1)[0]
    rank_down = final.split("MapInPandas", 1)[1]
    cache_pos = rank_down.find("Scan ExistingRDD")
    assert cache_pos != -1, rank_down[:500]
    assert "Exchange" not in rank_down[:cache_pos], rank_down[:cache_pos]


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    # the benchmark n-gram set is a small fraction of the corpus and is
    # explicitly broadcast: the training corpus must NEVER shuffle for
    # this join (a SortMergeJoin here re-shuffles 100 TB of grams)
    plan = _plan(spark, sf_dir, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_packing_avoids_single_partition_window(spark, sf_dir):
    # the running total must come from the two-pass global cumsum, not
    # SUM() OVER (ORDER BY) — which plans as Exchange SinglePartition +
    # one Window task holding the entire corpus
    plan = _plan(spark, sf_dir, "pack_token_budget")
    assert "SinglePartition" not in plan, plan[:500]
    assert "MapInPandas" in plan


def test_mixture_sampling_verdict_is_scan_side(spark, sf_dir):
    # the keep/drop verdict (hash + threshold) must evaluate in the
    # scan's projection; the only exchange is the per-source rollup
    plan = _plan(spark, sf_dir, "sample_mixture_weighted")
    final = plan.split("== Initial Plan ==", 1)[0]
    import re

    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 1, final[:600]
    assert "partial_" in final.lower() or final.count("HashAggregate") >= 2


def test_fuzzy_match_single_index_join(spark, sf_dir):
    # the batch fuzzy resolver must join the index ONCE (key fan-out +
    # window fallback), not once per rule stage — three joins here
    # would triple-shuffle a petabyte index
    plan = _plan(spark, sf_dir, "cdx_fuzzy_match")
    n_joins = plan.count("Join")
    assert n_joins <= 2, f"{n_joins} joins:\n{plan[:800]}"


def test_chunk_sliding_is_shuffle_free(spark, sf_dir):
    # 1->N chunk fan-out is a map-only Generate; any Exchange means
    # the expansion shuffles the corpus
    plan = _plan(spark, sf_dir, "text_chunk_sliding")
    assert "Exchange" not in plan, plan[:500]
    assert "Generate" in plan


def test_phash_near_dup_band_join_not_cartesian(spark, sf_dir):
    # candidates must come from the band-bucket equi-join; a cartesian
    # or broadcast-nested-loop here is the all-pairs blowup
    plan = _plan(spark, sf_dir, "multimodal_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_verdict_is_scan_side(spark, sf_dir):
    # the bloom membership test is a literal-array lookup in the
    # scan's projection; the only join is the broadcast ground-truth
    # marker
    plan = _plan(spark, sf_dir, "dedup_bloom_prefilter")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_partitioned_mirror_prunes_files(spark, sf_dir):
    """SURVEY §3.3/§4: a parquet mirror of the index laid out by a
    urlkey-derived partition column must answer a host query by
    reading ONLY the matching partition directory (partition pruning —
    the file-level binary-search analogue of cluster.idx; parquet
    min/max footer stats additionally skip row groups WITHIN files,
    which numFiles cannot show but PushedFilters asserts elsewhere).
    Asserted from the scan node's runtime metrics."""
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx

    d = tempfile.mkdtemp(prefix="cdx_mirror_")
    (
        derived_cdx(spark, sf_dir)
        .withColumn("host", F.regexp_extract("urlkey", r"^([^)]*)\)", 1))
        .repartition("host")
        .sortWithinPartitions("urlkey", "ts14")
        .write.mode("overwrite")
        .partitionBy("host")
        .parquet(d)
    )
    full = spark.read.parquet(d)
    n_files = len(full.inputFiles())
    assert n_files >= 2

    pruned = full.filter(full.host == "org,example,src1")
    # collect() runs THIS Dataset's own QueryExecution (count() builds
    # a separate plan), which is what populates its scan metrics
    assert len(pruned.collect()) > 0

    def scan_metrics(df):
        plans = [df._jdf.queryExecution().executedPlan()]
        while plans:
            p = plans.pop()
            if "AdaptiveSparkPlan" in p.getClass().getName():
                plans.append(p.executedPlan())
                continue
            if "FileSourceScan" in p.getClass().getName() or "FileScan" in p.nodeName():
                out = {}
                it = p.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    out[str(kv._1())] = kv._2().value()
                return out
            for i in range(p.children().size()):
                plans.append(p.children().apply(i))
        return {}

    m = scan_metrics(pruned)
    files_read = m.get("numFiles", m.get("filesNum"))
    assert files_read is not None and files_read > 0, m
    assert files_read < n_files, (
        f"prefix filter read all {n_files} files — no pruning"
    )


def test_fuzzy_filtered_retry_prunes_documents_scan(spark, sf_dir):
    """cdx_fuzzy_filtered_retry derives its fixture through
    derived_cdx(doc_pred=...): the subtree predicate must reach the
    DOCUMENTS parquet scan as a pushed filter (a urlkey filter could
    not push below the SURT projection — the doc_id form exists
    precisely so the scan prunes)."""
    plan = _plan(spark, sf_dir, "cdx_fuzzy_filtered_retry")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "doc_id" in pushed, pushed


def test_paged_index_reads_no_shard_bytes(spark, sf_dir):
    """showPagedIndex answers from cluster.idx alone: the plan is a
    local-relation scan of the pruned block list — no ranged shard
    reads, no RDD parse stage (contrast cdx_page_blocks, whose plan
    contains the block-read scan)."""
    plan = _plan(spark, sf_dir, "cdx_show_paged_index")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_acl_chain_is_map_side_zero_exchange(spark, sf_dir):
    """The compiled longest-prefix ACL CASE chain must stay a scan-side
    projection: thousands of rules = zero shuffles, whether the table
    came from code or from a loaded .aclj file."""
    for name in ("cdx_acl_longest_prefix", "cdx_acl_from_aclj"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} shuffles the index: {plan[:400]}"
        assert "Join" not in plan, f"{name} plans a join for the rule table"


def test_timemap_serializations_single_window_exchange(spark, sf_dir):
    """TimeMap emission is one ranked window (one hash exchange on the
    urlkey) + map-only string building — a second exchange would mean
    the serializer re-shuffles per format."""
    for name in ("cdx_timemap_json", "cdx_timemap_cdxj"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") <= 1, (
            f"{name}: more than one hash exchange\n{plan[:500]}"
        )
        assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mojibake_score_partial_aggregates(spark, sf_dir):
    """Encoding QA is one corpus scan: marker arithmetic in the
    projection, partial aggregation below the single source-key
    exchange — only (source, counts) rows cross the wire."""
    plan = _plan(spark, sf_dir, "text_mojibake_score")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") <= 2  # widen + agg
    import re

    partials = re.findall(
        r"HashAggregate\(keys=.*?partial_.*?output=\[([^\]]*)\]", plan
    )
    assert partials, "expected a partial (map-side) aggregate"
    for out in partials:
        assert "text#" not in out, f"raw text crosses the shuffle: {out}"


def test_containment_bench_side_is_broadcast(spark, sf_dir):
    """Decontamination must broadcast the benchmark gram set and its
    sizes — a sort-merge join here would shuffle the full training
    gram stream by hash value at 100 TB."""
    plan = _plan(spark, sf_dir, "decontaminate_containment")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_collapse_group_count_adds_no_exchange(spark, sf_dir):
    """showGroupCount's run-size window must reuse the collapse
    window's hashpartitioning(urlkey) — partitioning by (urlkey, run)
    is satisfied by the existing urlkey clustering, so the annotation
    costs a local sort, never a second shuffle."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query
    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
    from pyspark.sql import functions as F

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")

    def plan_of(gc):
        fields = ["urlkey", "timestamp"] + (["groupcount"] if gc else [])
        df = cdx_query(
            c,
            "http://src3.example.org/",
            match_type="domain",
            collapse="timestamp:4",
            show_group_count=gc,
            fields=fields,
        )
        return df._jdf.queryExecution().executedPlan().toString()

    base, with_gc = plan_of(False), plan_of(True)
    assert with_gc.count("Exchange") == base.count("Exchange"), with_gc[:600]
    assert with_gc.count("Exchange hashpartitioning") == 1


def test_show_skip_count_adds_no_exchange(spark, sf_dir):
    """showSkipCount's survivor-gap window runs after the collapse
    filter but partitions by the same urlkey the collapse window
    already clustered — so the skip annotations (skipcount +
    lastskiptimestamp lag) cost local sorts, never a second shuffle."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query
    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")

    def plan_of(sc):
        fields = ["urlkey", "timestamp"] + (
            ["skipcount", "lastskiptimestamp"] if sc else []
        )
        df = cdx_query(
            c,
            "http://src3.example.org/",
            match_type="domain",
            collapse="timestamp:4",
            show_skip_count=sc,
            fields=fields,
        )
        return df._jdf.queryExecution().executedPlan().toString()

    base, with_sc = plan_of(False), plan_of(True)
    assert with_sc.count("Exchange") == base.count("Exchange"), with_sc[:600]
    assert with_sc.count("Exchange hashpartitioning") == 1


def test_embargo_chain_is_map_side_zero_exchange(spark, sf_dir):
    """The embargo-aware verdict must stay exactly as cheap as the
    plain ACL chain: the ts14 compares fold into CASE-arm VALUES
    inside the same scan-side projection — per as_of clock, zero
    exchanges, zero joins, rule-count independent."""
    from webarchive_indexing_spark.operators.cdx_query import apply_acl
    from webarchive_indexing_spark.queries.cdx_surface import (
        _EMBARGO,
        _EMBARGO_RULES,
        derived_cdx,
    )
    from pyspark.sql import functions as F

    c = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp")
    )
    judged = apply_acl(
        c, _EMBARGO_RULES, embargo=_EMBARGO, as_of="20170601000000"
    )
    plan = judged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"embargo verdict shuffles: {plan[:400]}"
    assert "Join" not in plan


def test_url_wildcard_inference_prunes_like_explicit(spark, sf_dir):
    """The inferred prefix/domain queries must plan IDENTICALLY to the
    explicit spellings — inference is URL sugar resolved on the
    driver, so the optimized plan (the same sargable key range, same
    pushdown) is byte-equal modulo expression ids; nothing degrades
    to a LIKE/regex residual."""
    import re

    from webarchive_indexing_spark.operators.cdx_query import cdx_query
    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
    from pyspark.sql import functions as F

    c = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp"), "status"
    )

    def opt(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#x", s)

    assert opt(cdx_query(c, "https://src5.example.org/doc/5*")) == opt(
        cdx_query(c, "https://src5.example.org/doc/5", match_type="prefix")
    )
    assert opt(cdx_query(c, "*.src3.example.org")) == opt(
        cdx_query(c, "src3.example.org", match_type="domain")
    )


def test_fuzzy_filter_echo_all_equi_joins(spark, sf_dir):
    """The param-echo batch resolver must never plan a non-equi join:
    the 'prefix scan' is an equi-join on the key truncated at '?' and
    the echo rides as a join residual — a BroadcastNestedLoop or
    cartesian here would be all-pairs at 100 TB."""
    plan = _plan(spark, sf_dir, "cdx_fuzzy_filter_echo")
    assert "BroadcastNestedLoopJoin" not in plan, plan[:500]
    assert "CartesianProduct" not in plan, plan[:500]


def test_linear_classifier_zero_exchange(spark, sf_dir):
    """Classifier scoring must stay one corpus pass: per-token weights
    accumulate inside the scan (F.aggregate over the token array) —
    zero exchanges, zero joins, no tokenizer fan-out shuffle."""
    plan = _plan(spark, sf_dir, "quality_linear_classifier")
    assert "Exchange" not in plan, plan[:500]
    assert "Join" not in plan


def test_parquet_index_read_is_three_layer_pruned(spark, sf_dir):
    """The cc-index-table-layout read must prune at every layer:
    crawl/subset as PARTITION filters (directories never listed),
    url_surtkey as a PUSHED scan filter, and the scan must read only
    the index's data columns (partition values come from directory
    names, not bytes)."""
    plan = _plan(spark, sf_dir, "cdx_parquet_index_roundtrip")
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "crawl" in part and "subset" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "StringStartsWith(url_surtkey" in pushed, pushed
    # reading the filtered result is a metadata + scan job: no
    # exchange may appear above the index scan
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]


def test_bm25_scan_side_no_wide_shuffle(spark, sf_dir):
    """BM25 must stay two scan passes + a one-row broadcast: no
    sort-merge join, no rangepartitioning, top-k as
    TakeOrderedAndProject (never a global sort)."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dsir_models_broadcast_text_stays_out_of_shuffle(spark, sf_dir):
    """DSIR's feature models are bucket-space-bounded artifacts: the
    scoring join must be broadcast (no SMJ anywhere), and no exchange
    may carry the raw text column — grams travel as hashed bucket
    ids only."""
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    for seg in plan.split("Exchange")[1:]:
        head = seg.splitlines()[0]
        assert "text" not in head, head


def test_parquet_backend_query_pushes_key_and_time_bounds(spark, sf_dir):
    """The parquet-backend cdx query must need no hand pruning: the
    urlkey prefix pushes through the rename projection as a
    StartsWith on url_surtkey, and the redundant typed fetch_time
    bounds push beside it (the ts14 string compare can't)."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, sf_dir, "cdx_parquet_index_query")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    scan = plan.split("FileScan parquet", 1)[1]
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    # the prefix match compiles to a sargable key RANGE on the sorted
    # layout, and the typed time bounds ride beside it
    assert "GreaterThanOrEqual(url_surtkey" in pushed, pushed
    assert "LessThan(url_surtkey" in pushed, pushed
    assert "GreaterThanOrEqual(fetch_time" in pushed, pushed
    assert "LessThan(fetch_time" in pushed, pushed


def test_parquet_epoch_store_pushdown_survives_union_and_tombstones(
    spark, sf_dir
):
    """On the columnar EPOCH store the key predicate must reach every
    epoch's parquet scan through the union, and the tombstone
    exclusions must stay metadata-sized broadcast anti-joins — a
    sort-merge join or an unfiltered epoch scan here would make every
    takedown a full-index shuffle at 100 TB."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, sf_dir, "cdx_parquet_takedown")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    scans = plan.split("FileScan parquet")[1:]
    assert len(scans) >= 2, "expected one scan per ingest epoch"
    for scan in scans:
        pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "url_surtkey" in pushed, pushed
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # wild + exact tombstones


def test_funnel_all_hash_joins_no_cartesian(spark, sf_dir):
    """The funnel's cascaded MIN-joins must all hash on user_id — a
    BroadcastNestedLoop or cartesian here would be all-pairs over the
    event stream; and no single-partition exchange may appear (the
    thing that dies first on 100 TB of events)."""
    plan = _plan(spark, sf_dir, "events_funnel_steps")
    assert "CartesianProduct" not in plan, plan[:500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:500]
    assert "SinglePartition" not in plan, plan[:500]


def test_training_shuffle_is_two_pass_range_rank(spark, sf_dir):
    """The seeded corpus shuffle must be the two-pass global rank:
    NO single-partition window/exchange (a row_number over an
    unpartitioned window would funnel the corpus through one task),
    and the rank pass sits directly on the checkpointed range
    partitions (rendered as Scan ExistingRDD — the range exchange
    lives in the checkpointed prefix, same shape as
    zipnum_shard_plan) with no re-shuffle in between."""
    plan = _plan(spark, sf_dir, "training_order_shuffle")
    assert "SinglePartition" not in plan, plan[:500]
    assert "MapInPandas" in plan, plan[:500]
    final = plan.split("== Initial Plan ==", 1)[0]
    rank_down = final.split("MapInPandas", 1)[1]
    cache_pos = rank_down.find("Scan ExistingRDD")
    assert cache_pos != -1, rank_down[:400]
    assert "Exchange" not in rank_down[:cache_pos], rank_down[:cache_pos]


def test_persisted_ivf_probe_prunes_inverted_lists(spark, sf_dir, monkeypatch):
    """The stored-index probe must do the inverted-list skip as
    PARTITION pruning: the vectors scan carries a cell PartitionFilter
    (only nprobe directories listed/read) and plans zero exchanges —
    a probe that re-scans or re-shuffles the whole corpus would erase
    the entire point of persisting the index."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivf_persisted_topk", monkeypatch)
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("embedding",))


def test_persisted_ivfpq_probe_reads_codes_not_vectors(spark, sf_dir, monkeypatch):
    """The PQ-coded store's probe must (a) prune to the nprobe cell
    partitions like the flat store, and (b) READ CODES — the ReadSchema
    of the probe scan carries the j0.. code columns and no float-array
    column at all.  Scanning vectors would forfeit the 16-32× byte
    saving that justifies the PQ layout; re-shuffling would erase the
    serving-cost model."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfadc_persisted_topk", monkeypatch)
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema, schema
    assert "array" not in schema, f"probe scan reads float vectors: {schema}"
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("j0",), lacks=("embedding",))


def test_ann_delete_probe_keeps_pruned_plan(spark, sf_dir, monkeypatch):
    """Tombstone exclusion must stay a scan-side filter: the deleted-id
    predicate appears in PushedFilters (no join, no extra exchange) and
    the cell partition pruning is unchanged — deletes cost metadata,
    not plan shape."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivf_delete_probe", monkeypatch)
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "vec_id" in pushed, pushed
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("embedding",))


def test_batch_parquet_pushes_range_union_to_scan(spark, sf_dir):
    """The columnar batch path: the union-of-ranges disjunction must
    reach the parquet scan (PushedFilters carries the url_surtkey Or,
    answered by the sorted layout's row-group stats), the request
    tagging must be a broadcast nested-loop join (captures never
    shuffle), and there is exactly one parquet scan for N requests."""
    plan = _plan(spark, sf_dir, "cdx_query_batch_parquet")
    assert plan.count("FileScan parquet") == 1, plan[:800]
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "url_surtkey" in pushed, pushed
    assert "Or(" in pushed, pushed
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_trained_classifier_scoring_is_map_side(spark, sf_dir):
    """quality_classifier_trained's SERVING half: training runs as
    separate model-sized jobs, but the returned scoring plan must be a
    pure projection over the (persisted) feature frame — no Exchange,
    no join: the trained weights are literals, the sigmoid is
    scan-side arithmetic."""
    plan = _plan(spark, sf_dir, "quality_classifier_trained")
    assert "Exchange" not in plan, plan[:600]
    assert "Join" not in plan, plan[:600]


def test_audio_meta_single_pass_no_shuffle(spark, sf_dir):
    """multimodal_audio_meta: fixture synth + header parse are two
    chained Arrow stages over one scan — binary payloads never cross
    an exchange (at 100 TB the media column IS the corpus bytes)."""
    plan = _plan(spark, sf_dir, "multimodal_audio_meta")
    assert "Exchange" not in plan, plan[:600]
    assert plan.count("MapInPandas") == 2, plan[:600]


def test_bpe_byte_level_encode_single_regroup(spark, sf_dir):
    """text_bpe_byte_level's encode half: the merge table rides as
    literals, so the only exchange in the returned plan is the per-doc
    regroup aggregate — never a join against the merge table and never
    a second shuffle of token rows."""
    import re

    plan = _plan(spark, sf_dir, "text_bpe_byte_level")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Join" not in final, final[:600]
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 1, final[:800]


def test_semantic_decontamination_is_map_only(spark, sf_dir):
    """decontaminate_semantic: the benchmark set rides as driver
    literals (the IVF-quantizer discipline), so flagging is one
    map-side array_max over inlined cosines — no Exchange, no Join;
    at 100 TB the cost is one pass over the embedding column."""
    plan = _plan(spark, sf_dir, "decontaminate_semantic")
    assert "Exchange" not in plan, plan[:600]
    assert "Join" not in plan, plan[:600]


def test_ann_batch_probe_single_scan_one_window_shuffle(spark, sf_dir, monkeypatch):
    """Batch ANN serving (round 11): N requests must share ONE codes
    scan whose partition filter is the UNION of their probe cells
    (shared cells read once, codes-only ReadSchema), with per-request
    ADC map-side and exactly one Exchange — the request_no window.  A
    second scan, a vector-column read, or a pre-window shuffle would
    erase the amortization."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_query_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema, schema
    assert "array" not in schema, f"batch probe reads float vectors: {schema}"
    # exactly one shuffle, and it is the per-request top-k window
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "request_no" in plan.split("Exchange", 1)[1].splitlines()[0]
    assert "Window" in plan
    _assert_driver_reads(plan, reads, has=("j0",), lacks=("embedding",))


def test_refine_store_scan_prunes_to_candidates(spark, sf_dir, monkeypatch):
    """The store-resident refine must touch only the CANDIDATE rows:
    its sidecar scan carries a cell PartitionFilter (candidate cells
    only) AND a pushed-down vec_id In filter, plans no Exchange and no
    join — re-ranking k·k_factor rows costs k·k_factor rows, not a
    corpus pass."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfpq_refined_store", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "vec_id" in pushed and "In" in pushed, pushed
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("embedding",), by_id=True)


def test_filtered_ann_probe_pushes_predicate(spark, sf_dir, monkeypatch):
    """Filtered vector search (round 12): the attribute predicate must
    ride INSIDE the same cell-pruned scan — PushedFilters carries the
    label equality next to the pruned PartitionFilters, the plan adds
    zero exchanges and no join, and top-k stays TakeOrderedAndProject.
    A post-top-k filter (the no-recall-guarantee shape) would show a
    Filter above the sort instead."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_filtered_topk", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "label" in pushed and ("EqualTo" in pushed or "Equal" in pushed), pushed
    assert "Exchange" not in plan, plan[:900]
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("label",))


def test_filtered_ann_pq_probe_pushes_predicate_codes_only(spark, sf_dir, monkeypatch):
    """The PQ store's filtered probe: predicate pushed into the pruned
    CODES scan (attrs ride the code rows), ReadSchema still carries
    codes + the attribute and NO vector column — filtering must not
    cost the 16-32x byte saving."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfpq_filtered_topk", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "label" in pushed, pushed
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema and "label" in schema, schema
    assert "array" not in schema, f"filtered PQ probe reads vectors: {schema}"
    assert "Exchange" not in plan, plan[:900]
    _assert_driver_reads(plan, reads, has=("j0", "label"), lacks=("embedding",))


def test_filtered_ann_batch_single_scan_one_window(spark, sf_dir, monkeypatch):
    """Filtered BATCH serving: per-request predicates ride the struct
    arms map-side — the plan keeps the batch contract (one scan pruned
    to the union of probe cells, exactly one Exchange = the request_no
    window) with heterogeneous filters in play."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_filtered_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "request_no" in plan.split("Exchange", 1)[1].splitlines()[0]
    assert "Window" in plan
    _assert_driver_reads(plan, reads, has=("label",))


def test_sq_batch_single_scan_one_window(spark, sf_dir, monkeypatch):
    """SQ8 batch serving: one union-pruned sq scan (quantized payload
    ReadSchema — tinyint codes + scale, no float vector column), the
    shared dequantize feeding every request's arm map-side, exactly
    one Exchange (the request_no window)."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfsq_query_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "tinyint" in schema and "scale" in schema, schema
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "request_no" in plan.split("Exchange", 1)[1].splitlines()[0]
    _assert_driver_reads(plan, reads, has=("q", "scale"), lacks=("embedding",))


def test_opq_probe_same_plan_as_plain_pq(spark, sf_dir, monkeypatch):
    """The OPQ store's probe must keep the PQ serving contract: one
    codes-only pruned scan (rotation happened at BUILD; the query
    vector rotates driver-side, costing the plan nothing), zero
    exchanges, TakeOrderedAndProject."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfpq_opq_topk", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema and "array" not in schema, schema
    assert "Exchange" not in plan, plan[:900]
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("j0",), lacks=("embedding",))


def test_video_meta_single_pass_no_shuffle(spark, sf_dir):
    """multimodal_video_meta: fixture synth + header parse are two
    chained Arrow stages over one scan — binary payloads never cross
    an exchange (same contract as the audio twin)."""
    plan = _plan(spark, sf_dir, "multimodal_video_meta")
    assert "Exchange" not in plan, plan[:600]
    assert plan.count("MapInPandas") == 2, plan[:600]


def test_ann_refined_batch_single_sidecar_scan(spark, sf_dir, monkeypatch):
    """Batch+refine: the refine stage is ONE sidecar scan pruned to
    the candidates' cells with a pushed-down id In filter, the
    per-request fan-out is a map-side generate, and the only Exchange
    is the request_no window — N requests re-rank in one pass."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_refined_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "vec_id" in pushed and "In" in pushed, pushed
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "request_no" in plan.split("Exchange", 1)[1].splitlines()[0]
    assert "Join" not in plan
    _assert_driver_reads(plan, reads, has=("embedding",), by_id=True)


def test_ivfsq_probe_prunes_and_reads_quantized(spark, sf_dir, monkeypatch):
    """The SQ8 store probe: cell partition pruning like its siblings,
    and the scan reads the quantized payload (scale + tinyint codes),
    never a float embedding column; zero pre-top-k exchanges."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfsq_persisted_topk", monkeypatch)
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "scale" in schema and "q" in schema, schema
    assert "embedding" not in schema, schema
    assert "Exchange" not in plan.split("FileScan parquet", 1)[0]
    assert "TakeOrderedAndProject" in plan
    _assert_driver_reads(plan, reads, has=("q", "scale"), lacks=("embedding",))


def test_range_probe_prunes_and_sorts_once(spark, sf_dir, monkeypatch):
    """Range search over the flat store: the radius cut must not
    change the scan story — one cell-pruned FileScan, no join, the
    similarity filter map-side above it, and (with no LIMIT to turn
    the sort into TakeOrderedAndProject) exactly ONE exchange: the
    final range-partitioned ordering of the data-dependent result."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_range_search", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    assert "rangepartitioning" in plan, plan[:900]
    _assert_driver_reads(plan, reads, has=("embedding",))


def test_sq_range_probe_pushes_predicate_reads_quantized(spark, sf_dir, monkeypatch):
    """The composed SQ8 range probe: attribute predicate in
    PushedFilters beside the cell PartitionFilters, quantized-only
    ReadSchema (scale + codes + the attribute, never a float
    embedding), no join, one ordering exchange."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfsq_range_search", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "label" in pushed and "LessThanOrEqual" in pushed, pushed
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "scale" in schema and "label" in schema, schema
    assert "embedding" not in schema, schema
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    _assert_driver_reads(plan, reads, has=("q", "scale", "label"), lacks=("embedding",))


def test_web_image_dims_single_pass_no_shuffle(spark, sf_dir):
    """GIF/WebP header curation must stay a straight-line map plan:
    scan → synthesize (ArrowEval/mapInPandas) → parse, zero exchanges
    — the full-corpus cheap pass the dims-stats curation story
    depends on."""
    plan = _plan(spark, sf_dir, "multimodal_web_image_dims")
    assert "Exchange" not in plan, plan[:900]
    assert "Join" not in plan


def test_batch_range_no_window_one_exchange(spark, sf_dir, monkeypatch):
    """Batch RANGE serving: one union-pruned scan, per-request radius
    cuts map-side, and — unlike every batch top-k plan — NO window at
    all; the only exchange is the final output ordering.  This is the
    shape that makes batch range the cheapest serving mode at any
    request count."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ann_range_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    assert "Window" not in plan, plan[:900]
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    assert "rangepartitioning" in plan, plan[:900]
    _assert_driver_reads(plan, reads, has=("embedding",))


def test_pq_range_probe_codes_only_no_join(spark, sf_dir, monkeypatch):
    """The PQ store's range probe keeps the codes-only scan contract:
    pruned cells, ReadSchema carries code columns and no vector
    array, ADC cut map-side, no join, one ordering exchange."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfpq_range_search", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema, schema
    assert "array" not in schema, f"PQ range probe reads vectors: {schema}"
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    _assert_driver_reads(plan, reads, has=("j0",), lacks=("embedding",))


def test_zorder_box_pushes_both_predicates(spark, sf_dir):
    """The z-ordered table is read by the PLAIN parquet reader — both
    box predicates must reach PushedFilters so footer stats can do
    the file/row-group skipping the layout was built for; no custom
    reader, no join, no exchange (the filter+project is map-side)."""
    plan = _plan(spark, sf_dir, "events_zorder_box")
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "user_id" in pushed and "value" in pushed, pushed
    assert "GreaterThanOrEqual" in pushed and "LessThanOrEqual" in pushed, pushed
    assert "Exchange" not in plan, plan[:900]
    assert "Join" not in plan


def test_pq_batch_range_no_window_codes_only(spark, sf_dir, monkeypatch):
    """PQ batch range: one union-pruned codes-only scan (no vector
    array in ReadSchema), per-request ADC + ceilings map-side, NO
    window, one output-ordering exchange."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfpq_range_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "j0" in schema and "array" not in schema, schema
    assert "Window" not in plan, plan[:900]
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    _assert_driver_reads(plan, reads, has=("j0",), lacks=("embedding",))


def test_sq_batch_range_no_window_quantized_only(spark, sf_dir, monkeypatch):
    """SQ8 batch range: one union-pruned quantized scan (scale +
    codes, no float embedding), per-request radius floors map-side,
    NO window, one output-ordering exchange."""
    plan, reads = _probe_plan(spark, sf_dir, "emb_ivfsq_range_batch", monkeypatch)
    assert plan.count("FileScan parquet") == 1, plan[:800]
    scan = plan.split("FileScan parquet", 1)[1]
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part, part
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "scale" in schema and "embedding" not in schema, schema
    assert "Window" not in plan, plan[:900]
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan[:900]
    _assert_driver_reads(plan, reads, has=("q", "scale"), lacks=("embedding",))


def test_zorder_box_pushes_both_dimensions(spark, sf_dir):
    """Round 13: the 2-D box over the z-clustered cc-index epoch must
    reach the parquet scan on BOTH dimensions — the url_surtkey range
    AND the fetch_time range (INT64 timestamp stats; INT96 carried
    none, which silently disabled all time pruning pre-round-13) —
    and takedowns stay broadcast anti-joins."""
    plan = _plan(spark, sf_dir, "parquet_index_zorder_box")
    scan = plan.split("FileScan parquet", 1)[1]
    pushed = scan.split("PushedFilters: [", 1)[1].split("ReadSchema", 1)[0]
    assert "url_surtkey" in pushed, pushed
    assert "fetch_time" in pushed, pushed
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_html_extraction_is_scan_side(spark, sf_dir):
    """Round 13: the HTML fixture build is a JVM concat projection and
    the extractor ONE Arrow stage — no exchange anywhere; raw HTML
    never shuffles."""
    plan = _plan(spark, sf_dir, "text_html_main_content")
    assert plan.count("MapInPandas") == 1, plan[:600]
    # widen() repartitions the small fixture input for CPU width — the
    # only exchange, and it FEEDS the Arrow stage (appears below it in
    # the top-down printout); nothing shuffles after extraction
    assert plan.count("Exchange") == 1, plan[:900]
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan[:900]
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "doc_id" in schema and "text" in schema and "lang" not in schema


def test_arpa_scoring_joins_are_broadcast(spark, sf_dir):
    """Round 13: the loaded ARPA model rides as broadcast tables —
    no shuffle join anywhere in the scoring plan."""
    plan = _plan(spark, sf_dir, "text_arpa_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_graph_walk_scan_is_frontier_pruned(spark, sf_dir):
    """Round-14 verdict task 2: the beam walk must never broadcast or
    fully scan the edge table — each hop pushes the beam ids into the
    src-bucketed store as STATIC partition + id filters (the refine-
    sidecar trick).  Asserted on the hop scan's plan: PartitionFilters
    carries src_bucket IN (…) and PushedFilters carries In(src, …) —
    at production scale these skip every non-frontier bucket
    directory.  The vector-scoring scan is pinned the same way."""
    import tempfile

    from webarchive_indexing_spark.operators.graph_ann import (
        _pruned_edge_scan,
        _pruned_vec_scan,
        write_knn_graph,
    )
    from webarchive_indexing_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="plan_graph_")
    meta = write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    nb = meta["n_buckets"]
    g = spark.read.parquet(out + "/graph")
    plan = (
        _pruned_edge_scan(g, [3, 7, 150], nb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "src_bucket" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    assert "In(src, [" in plan, plan
    assert "BroadcastExchange" not in plan
    v = spark.read.parquet(out + "/vectors")
    vplan = (
        _pruned_vec_scan(v, [3, 7, 150], nb, "vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in vplan and "id_bucket" in vplan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], vplan
    assert "In(vec_id, [" in vplan, vplan
    # Round 16: the pruned scans build their IN predicates as ONE
    # parsed SQL expression (Column.isin cost one py4j call per
    # literal).  A REALISTIC frontier (beam×degree ids, far past the
    # optimizer's In→InSet conversion threshold) must still reach the
    # parquet source as a pushed In filter — guard the pushdown at the
    # width the serving walks actually use.
    wide = sorted({(7 * i + 3) % 500 for i in range(60)})
    wplan = (
        _pruned_vec_scan(v, wide, nb, "vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(vec_id, [" in wplan, wplan
    assert "BroadcastExchange" not in wplan


def test_revisit_dedup_payload_crosses_one_exchange(spark, sf_dir):
    """Round-14 verdict "What's wrong #1": the revisit dedup must not
    move payload bytes through its own shuffle — the digest window
    runs over a projected (url, date, sha1(payload)) frame and only
    the assignment rows join back (broadcast below the size guard).
    End to end the payload then crosses exactly ONE exchange:
    write_warc's range shuffle."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.sources.warc import (
        _revisit_assignments,
        dedup_to_revisits,
    )
    from webarchive_indexing_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    )
    base = docs.select(
        F.concat(F.lit("http://x.example/"), F.col("doc_id")).alias("url"),
        F.lit("2020-01-01T00:00:00Z").alias("date_iso"),
        F.lit("text/plain").alias("mime"),
        F.encode(F.pmod(F.col("doc_id"), F.lit(7)).cast("string"), "UTF-8")
        .alias("payload"),
    )
    # (a) the lite half shuffles on the digest, and the attributes
    # crossing that exchange are key columns only — the Window/Sort
    # operators above it must never mention the payload attribute
    lplan = (
        _revisit_assignments(
            base, url_col="url", date_col="date_iso", payload_col="payload"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning(__dig" in lplan, lplan[:900]
    import re

    for op in re.findall(r"(?:Window|Sort) \[[^\n]*", lplan):
        assert "payload" not in op, op
    # (b) the payload-carrying base flows exchange-free into a
    # broadcast join: the returned plan's only exchange is the
    # BroadcastExchange of the metadata-sized assignment frame
    out = dedup_to_revisits(base)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:900]
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:900]
    assert "Exchange rangepartitioning" not in plan, plan[:900]
