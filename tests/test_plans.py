"""Physical-plan contracts — the scale properties SCALE.md claims,
asserted on the executed plans so they cannot silently regress:
broadcast joins stay broadcast, scan pushdown/pruning stays pushed,
the CDC merge reuses the compaction's partitioning, and no row-at-a-
time Python UDFs sneak into relational paths."""

from __future__ import annotations

import os
import re

import pytest

from meilisync_spark import queries as Q
from meilisync_spark.cli import ENVELOPES, envelope_normalizer
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = Q.REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join key + measures only
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_suppkey", "l_extendedprice", "l_discount"
    }


def test_q6_predicates_reach_the_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = plan[plan.find("PushedFilters"):][:300]
    # the plan string truncates long filter lists ("..."), so assert the
    # first value predicate made it past the IsNotNulls — proof the range
    # predicates reach the reader at all
    assert "GreaterThanOrEqual(l_shipda" in pushed
    # only the 4 referenced columns are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4


def test_decontaminate_broadcasts_eval_side(spark):
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_reuses_compaction_partitioning(spark):
    """The MERGE's full-outer pk join must reuse the compaction's hash
    partitioning — exactly one exchange on the changes side feeds both
    the max_by aggregate and the join (an extra exchange between them
    would double-shuffle every micro-batch)."""
    plan = _plan(spark, "cdc_apply")
    agg_pos = plan.find("max_by")
    assert agg_pos != -1
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("ShuffledHashJoin")
    assert join_pos != -1, "pk merge join missing"
    # no hashpartitioning exchange between the aggregate and the join
    between = plan[min(agg_pos, join_pos):max(agg_pos, join_pos)]
    assert "Exchange hashpartitioning(pk" not in between


def test_no_python_row_udfs_in_relational_paths(spark):
    """Python appears in plans only via Arrow (mapInPandas) operators;
    BatchEvalPython (row-at-a-time UDF) must never appear."""
    for name in ["q1_pricing_summary", "q3_top_orders", "minhash_lsh_pairs",
                 "vocab_encode", "tfidf_top_terms", "exact_dedup",
                 "pack_sequences", "quality_filter", "srp_ann_topk"]:
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name


def test_sampling_is_scan_side(spark):
    """split_assign must stay a pure narrow projection — no key shuffle,
    no sort. (A round-robin exchange from spread() is allowed: it's the
    local-mode parallelism helper for one-file fixtures, not a
    semantic shuffle — data never moves BY key.)"""
    plan = _plan(spark, "split_assign")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Sort" not in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing both sides of a join on the join key by the same
    bucket count makes the join shuffle-free — the co-location story
    SCALE.md promises for repeated fact-fact joins at 100 TB. Both
    tables are written bucketed by orderkey; the join plan must contain
    no Exchange on either side."""

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    spark.sql("DROP TABLE IF EXISTS ord_b")
    spark.sql("DROP TABLE IF EXISTS li_b")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "ord_b")).saveAsTable("ord_b"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b")).saveAsTable("li_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(
            spark.table("ord_b"),
            spark.table("li_b").l_orderkey == spark.table("ord_b").o_orderkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the result is still the plain join
        n_plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert j.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ord_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_span_dedup_single_scan_no_join(spark):
    """span_dedup is one scan + (span window, doc groupBy) shuffles —
    no self-join, no second pass over the text."""
    plan = _plan(spark, "span_dedup")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_semantic_dedup_broadcast_semi_no_shuffle_join(spark):
    """The cell-blocked dominance probe is a broadcast LeftSemi —
    never a shuffle join — and the survivor flag join broadcasts too."""
    plan = _plan(spark, "semantic_dedup")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_profile_documents_single_pass(spark):
    """The whole profile is ONE scan + one (Expand-based) aggregate."""
    plan = _plan(spark, "profile_documents")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_temperature_resample_broadcast_rates(spark):
    """The rate dim joins broadcast; the corpus side never sort-merges."""
    plan = _plan(spark, "temperature_resample")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_new_analytics_plan_contracts(spark):
    """retention_cohorts / event_funnel / unigram_freq_score /
    source_overlap: joins stay hash-based (broadcast at fixture scale),
    no cartesian products, no row-at-a-time Python."""
    for name in ("retention_cohorts", "event_funnel",
                 "unigram_freq_score", "source_overlap"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        # unigram's single BroadcastNestedLoopJoin is the 1-row scalar
        # attach (crossJoin(broadcast(total))) — constant work per task
        allowed_bnlj = 1 if name == "unigram_freq_score" else 0
        assert plan.count("BroadcastNestedLoopJoin") <= allowed_bnlj, name
        assert "BatchEvalPython" not in plan, name


def test_unigram_freq_vocab_broadcasts(spark):
    """The word-keyed join back must broadcast the vocab side (natural-
    language vocabularies are tiny next to the token stream)."""
    plan = _plan(spark, "unigram_freq_score")
    assert "BroadcastHashJoin" in plan


def test_ann_probe_joins_stay_broadcast(spark):
    """The ANN probe joins must broadcast the (exploded) query batch —
    a shuffled or cartesian probe would move the corpus; the only
    broadcast-NL allowed is the documented brute-force ground-truth
    baseline inside the recall scorers."""
    for name in ["ann_recall_clustered", "srp_recall_clustered",
                 "srp_multiprobe_topk", "srp_multiprobe_recall"]:
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # the |Q|*k scoring join must broadcast too — no sort-merge
        # anywhere in a recall row's plan
        assert "SortMergeJoin" not in plan, name


def test_cell_partitioned_corpus_prunes_ann_probe(spark, tmp_path):
    """SCALE.md's ANN layout claim, executed: write the embedding corpus
    hive-partitioned by cell id, probe one cell, and the scan must read
    ONLY that cell's partition (PartitionFilters + partition count), not
    filter post-scan — the difference between O(corpus/cells) and
    O(corpus) IO per query at 100 TB."""
    from pyspark.sql import functions as F

    from meilisync_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "corpus_by_cell")
    emb.write.partitionBy("label").parquet(path)
    corpus = spark.read.parquet(path)
    probe = corpus.where(F.col("label") == 3).select("vec_id", "embedding")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "label" in m.group(1), plan[:800]
    # the result is the one cell, and the filter never appears as a
    # post-scan Filter on label (it was consumed by partition pruning)
    assert probe.count() == emb.where(F.col("label") == 3).count()
    assert not re.search(r"Filter .*label", plan)


def test_envelope_roundtrips_stay_jvm_side(spark):
    """The envelope construct+parse path is to_json/from_json — JVM
    expressions inside codegen, no Python anywhere; canal's one shuffle
    is the statement batching groupBy."""
    for name in ["maxwell_roundtrip", "canal_roundtrip", "wal2json_roundtrip",
                 "wal2json_v2_roundtrip"]:
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_vocab_encode_single_range_exchange(spark):
    """vocab_encode's global rank is only correct if the offsets side
    and the join side read the SAME range partitioning — independent
    range exchanges sample boundaries with rdd-id-dependent seeds and
    can disagree once the vocab outgrows the sample budget (ids then
    duplicate or skip silently). The ranged frame is pinned via
    localCheckpoint, so the executed plan must show zero residual
    range exchanges and BOTH consumers scanning the pinned RDD."""
    df = Q.REGISTRY["vocab_encode"].fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange rangepartitioning") == 0, plan[:1200]
    assert plan.count("Scan ExistingRDD") == 2, plan[:1200]


def test_add_to_index_dedup_probe_prunes(spark, tmp_path):
    """add_to_index's replay-idempotence anti-join must read ONLY the
    batch's own cell partitions (PartitionFilters on cluster, vec_id-
    only ReadSchema, no post-scan cluster Filter) — the O(touched
    cells) contract that keeps streaming adds O(batch), not O(index)."""
    from pyspark.sql import functions as F

    from meilisync_spark.operators.ivfpq import _dedup_probe, save_index
    from meilisync_spark.operators.similarity import clustered_embeddings
    from meilisync_spark.sources.parquet import load_table

    ce = clustered_embeddings(load_table(spark, SF_SMOKE, "embeddings"))
    path = str(tmp_path / "ann")
    save_index(ce, path)
    probe = _dedup_probe(spark, path, [3])
    probe.write.format("noop").mode("overwrite").save()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:800]
    assert not re.search(r"Filter .*cluster#", plan)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and rs.group(1).split(":")[0] == "vec_id", rs and rs.group(1)
    # and the read really is that one cell's rows
    assert probe.count() == spark.read.parquet(path).where(
        F.col("cluster") == 3
    ).count()


def test_corpus_pipeline_full_scan_budget(spark):
    """The composed curation chain consumes each stage's output, not a
    re-derivation: the quality gate filters the scan directly, the
    canonical pick is a window over that same scan, and the survivor
    frame is pinned (localCheckpoint) before fanning out to the LSH /
    anti-join / packer consumers. The final plan may touch the
    documents parquet at most 3 times (quality+dedup chain once,
    decontaminate's corpus and eval sides) — guards the 20-scan
    composition regression the round-3 audit found."""
    df = Q.REGISTRY["corpus_pipeline_full"].fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 3
    assert plan.count("Scan ExistingRDD") >= 1  # the pinned survivor frame


def test_span_shuffle_keys_are_hashed(spark):
    """span_dedup / span_removal shuffle 8-byte span hashes, never the
    raw k-word span strings: the exchange / window partition key must
    be the long-typed span_h column (the 100-TB key contract both
    docstrings promise; the hash value itself is oracle-checked)."""
    for name in ["span_dedup", "span_removal"]:
        plan = _plan(spark, name)
        assert re.search(r"hashpartitioning\(span_h#\d+L", plan), name
        # the string span never appears as a shuffle key
        assert not re.search(r"hashpartitioning\(span#\d+[,)]", plan), name


def test_ivfpq_persisted_probe_prunes_partitions(spark, tmp_path):
    """The at-rest IVF+PQ probe must read ONLY the probed cells'
    partitions of the persisted cluster-partitioned index: static
    PartitionFilters on `cluster`, no post-scan Filter on it, and the
    scan schema carries only the code columns (vec_id, codes) — the
    O(probed cells) IO contract serving depends on."""
    from pyspark.sql import functions as F

    from meilisync_spark.operators.ivfpq import (
        _pruned_probe,
        ivfpq_persist_index,
    )
    from meilisync_spark.operators.similarity import clustered_embeddings
    from meilisync_spark.sources.parquet import load_table

    ce = clustered_embeddings(load_table(spark, SF_SMOKE, "embeddings"))
    path = str(tmp_path / "ivfpq_index")
    ivfpq_persist_index(ce, path)
    idx = spark.read.parquet(path)
    q_cells = [
        (int(r.vec_id), int(r.cluster))
        for r in idx.where(F.col("vec_id") < 8).select("vec_id", "cluster").collect()
    ]
    probed = _pruned_probe(idx, q_cells)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:800]
    # the index-side cluster predicate is consumed by partition pruning:
    # no post-scan Filter on the scan's cluster column (the broadcast
    # side's q_cluster filter is the tiny cells frame — allowed)
    for line in plan.splitlines():
        if line.lstrip(" :+-*(0-9)").startswith("Filter"):
            assert "cluster#" not in line.replace("q_cluster#", ""), line
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "vec_id" in rs.group(1) and "embedding" not in rs.group(1)
    # and the probe actually restricts to the queries' cells, one row
    # per (query, same-cell vector)
    on_disk = spark.read.parquet(path)
    want = sum(
        on_disk.where(F.col("cluster") == c).count() for _, c in q_cells
    )
    assert probed.count() == want


def test_bigram_lm_score_plan_contract(spark):
    """Bigram scoring stays the tfidf/unigram shape: hash joins only
    (broadcast at fixture scale), no cartesian, no Python, and the
    per-row bigram construction never explodes via a self-join."""
    plan = _plan(spark, "bigram_lm_score")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_corpus_side_hashes_each_shingle_once(spark):
    """The corpus side builds + hashes each shingle exactly once per
    generated row under codegen. Two regressions this pins: (a) the
    interpreted per-element transform+array_distinct form returning
    (no codegen sha2 projection at all), and (b) the inner join's
    isnotnull(sh) being substituted below the projection, re-running
    concat_ws+slice+sha2 per shingle row in a Filter (prevented by the
    non-nullable coalesce key)."""
    plan = _plan(spark, "decontaminate")
    # exactly one sha2-over-built-shingle expression: the corpus-side
    # Project (the eval side hashes lambda variables, not concat_ws)
    assert plan.count("sha2(cast(concat_ws") == 1


def _group_stage_tasks(spark, group: str) -> list[list[int]]:
    """Per job of ``group`` (job-id order), the task count of each of
    its stages (stage-id order)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(jid)
        stages = [tracker.getStageInfo(s) for s in sorted(info.stageIds)]
        jobs.append([s.numTasks for s in stages if s is not None])
    return jobs


def test_bucketed_apply_task_width_and_driver_listing(spark, tmp_path):
    """The bucketed MERGE's fixed cost per batch: writing every bucket of
    a 64-bucket index runs its write stage with at most
    ``spark.sql.shuffle.partitions`` tasks (several whole buckets per
    task, still one file per bucket), and reading 64 bucket directories
    lists them on the driver — only the mergeSchema footer job runs,
    no 64-task listing job."""
    from pyspark.sql import functions as F

    from meilisync_spark.operators.bucketed import (
        BUCKET_COL,
        apply_changes_bucketed,
        read_buckets,
    )

    n_buckets, width = 64, 8  # fewer tasks than buckets: several per task
    index = str(tmp_path / "index")
    sc = spark.sparkContext
    saved_width = spark.conf.get("spark.sql.shuffle.partitions")

    def changes(seq0):
        return spark.range(2000).select(
            F.col("id").alias("pk"),
            (F.col("id") + seq0).alias("seq"),
            F.lit("create").alias("op"),
            F.col("id").cast("double").alias("value"),
        )

    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        apply_changes_bucketed(
            spark, index, changes(0), pk="pk", payload_cols=["value"],
            num_buckets=n_buckets,
        )
        sc.setJobGroup("bucketed_apply", "apply touching every bucket")
        touched = apply_changes_bucketed(
            spark, index, changes(10_000), pk="pk", payload_cols=["value"],
            num_buckets=n_buckets,
        )
        apply_jobs = _group_stage_tasks(spark, "bucketed_apply")
        sc.setJobGroup("bucketed_read", "read every bucket")
        read_buckets(spark, index, range(n_buckets))
        read_jobs = _group_stage_tasks(spark, "bucketed_read")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.shuffle.partitions", saved_width)

    assert touched == list(range(n_buckets))
    # the write is the apply's last job; its result stage the last stage
    assert apply_jobs[-1][-1] <= width, apply_jobs
    assert len(read_jobs) <= 1, read_jobs
    for b in range(n_buckets):
        files = os.listdir(os.path.join(index, f"{BUCKET_COL}={b}"))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, (b, files)


@pytest.mark.parametrize("envelope", list(ENVELOPES))
def test_envelope_normalizer_parses_each_message_once(spark, tmp_path, envelope):
    """Every `start --envelope` format, with the CLI's payload flatten,
    plans one file scan and one `from_json` outside it, and no
    `get_json_object` probe: each message is parsed once, on one path
    (the wal2json v1/v2 union used to fork the stream into two scans)."""
    (tmp_path / "log.jsonl").write_text("{}\n")
    norm = envelope_normalizer(envelope, "id long, v double", "id")
    plan = norm(spark.read.text(str(tmp_path)))._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("\n")
    assert sum("FileScan" in x for x in lines) == 1, plan
    assert sum(x.count("from_json(") for x in lines if "FileScan" not in x) == 1, plan
    assert "get_json_object" not in plan
