"""Round-6 curation-extension operators: oracle parity, independent
Python differentials, and the semantic invariants each operator
promises (split partition totality, budget maximality, 3-sigma
agreement with float math, cube subtotal consistency)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from honors_p1_mapreduce_spark import registry
from honors_p1_mapreduce_spark.operators import curation_ext as cx
from honors_p1_mapreduce_spark.operators import relational_ext as rx
from honors_p1_mapreduce_spark.operators.pipeline import _features
from honors_p1_mapreduce_spark.sources.tables import load_table

from .oracle import compare_query


def test_new_r6_queries_match_oracles(spark, sf_dir):
    for name in (
        "dataset_split",
        "source_profile",
        "token_budget_select",
        "events_value_outliers",
        "revenue_cube",
    ):
        compare_query(spark, sf_dir, registry.QUERIES[name], registry.ORACLES[name])


def test_dataset_split_partitions_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = cx.dataset_split(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    assert sum(r["sum_chars"] for r in out) == (
        docs.agg(F.sum("n_chars")).collect()[0][0]
    )
    by_split: dict[str, int] = {}
    for r in out:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert set(by_split) == {"train", "val", "test"}
    # seeded-md5 buckets: train share must sit near 90% (binomial
    # tolerance at 500 docs)
    total = sum(by_split.values())
    assert 0.8 < by_split["train"] / total < 0.97


def test_dataset_split_deterministic(spark, sf_dir):
    a = sorted(map(tuple, cx.dataset_split(spark, sf_dir).collect()))
    b = sorted(map(tuple, cx.dataset_split(spark, sf_dir).collect()))
    assert a == b


def test_source_profile_dup_mass_matches_exact_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total_dups = sum(
        r["n_dup_copies"] for r in cx.source_profile(spark, sf_dir).collect()
    )
    # corpus-wide redundant mass = docs - distinct texts
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    assert total_dups == n_docs - n_distinct


def test_token_budget_select_maximal_prefix(spark, sf_dir):
    """Differential vs an independent Python greedy: sort all docs by
    (quality bucket desc, doc_id asc), take the maximal prefix whose
    token sum fits floor-half of the total — the selected multiset of
    (source, n_docs, n_tokens) must match the operator exactly."""
    feats = (
        _features(spark, sf_dir)
        .select("doc_id", F.floor(F.col("quality") * cx.QB_SCALE).alias("qb"), "bpe_tokens")
        .collect()
    )
    docs = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    total = sum(r["bpe_tokens"] for r in feats)
    per_source: dict[str, list[int]] = {}
    cum = 0
    for r in sorted(feats, key=lambda r: (-r["qb"], r["doc_id"])):
        if (cum + r["bpe_tokens"]) * cx.BUDGET_DEN > total * cx.BUDGET_NUM:
            break
        cum += r["bpe_tokens"]
        per_source.setdefault(docs[r["doc_id"]], [0, 0])
        per_source[docs[r["doc_id"]]][0] += 1
        per_source[docs[r["doc_id"]]][1] += r["bpe_tokens"]
    got = {
        r["source"]: [r["n_docs"], r["n_tokens"]]
        for r in cx.token_budget_select(spark, sf_dir).collect()
    }
    assert got == per_source
    assert cum * cx.BUDGET_DEN <= total * cx.BUDGET_NUM


def test_events_value_outliers_matches_float_zscore(spark, sf_dir):
    """The integer cross-multiplied test must agree with the plain
    float 3-sigma computation away from representation noise (micro-
    unit scaling truncates value at 1e-6, so compare against floats
    derived from the SAME truncation)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r)
    expect = set()
    for t, rows in by_type.items():
        xs = [int(round(r["value"] * 1_000_000)) for r in rows]
        n = len(xs)
        mu = sum(xs) / n
        var = sum((x - mu) ** 2 for x in xs) / n
        sd = math.sqrt(var)
        for r, x in zip(rows, xs):
            if abs(x - mu) > 3 * sd:
                expect.add(r["event_id"])
    got = {r["event_id"] for r in cx.events_value_outliers(spark, sf_dir).collect()}
    assert got == expect
    assert len(got) > 0  # corpus has outlier mass; empty means broken


def test_revenue_cube_subtotals_consistent(spark, sf_dir):
    rows = rx.revenue_cube(spark, sf_dir).collect()
    leaf = [r for r in rows if r["o_year"] != -1 and r["priority"] != "ALL"]
    grand = [r for r in rows if r["o_year"] == -1 and r["priority"] == "ALL"]
    assert len(grand) == 1
    assert sum(r["n_lines"] for r in leaf) == grand[0]["n_lines"]
    assert abs(sum(r["revenue"] for r in leaf) - grand[0]["revenue"]) < 1e-4
    # per-year subtotal rows equal their leaves
    years = {r["o_year"] for r in leaf}
    for y in years:
        ysub = [r for r in rows if r["o_year"] == y and r["priority"] == "ALL"]
        assert len(ysub) == 1
        assert ysub[0]["n_lines"] == sum(r["n_lines"] for r in leaf if r["o_year"] == y)


def test_outliers_plan_broadcasts_stats(spark, sf_dir):
    plan = cx.events_value_outliers(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # stats side never shuffles the fact


def test_events_moving_stats_differential(spark, sf_dir):
    """Range-frame correctness vs an independent Python trailing-sum
    over the collected minute frame (time reach-back, not row
    reach-back — buckets with gaps must not over-reach)."""
    from honors_p1_mapreduce_spark.operators.events import (
        MOVING_WINDOW_S,
        events_moving_stats,
    )

    rows = events_moving_stats(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket_start"])
        for i, r in enumerate(rs):
            lo = r["bucket_start"].timestamp() - MOVING_WINDOW_S
            expect_ev = sum(
                x["n_events"] for x in rs if lo <= x["bucket_start"].timestamp() <= r["bucket_start"].timestamp()
            )
            assert r["mov_events"] == expect_ev
            assert r["mov_events"] >= r["n_events"]


def test_events_daily_pivot_rows_sum_to_daily_totals(spark, sf_dir):
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.events import (
        PIVOT_TYPES,
        events_daily_pivot,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    piv = {r["day"]: r for r in events_daily_pivot(spark, sf_dir).collect()}
    daily = {
        r["day"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(piv) == set(daily)
    for day, r in piv.items():
        assert sum(r[f"n_{t}"] for t in PIVOT_TYPES) == daily[day]


def test_word_typo_pairs_golden_seeded_corpus(spark):
    """Typo-seeded corpus: the deletion-neighborhood blocking + verify
    must find exactly the true 1-edit pairs — substitution
    (spark/sparc), deletion (table/tble), insertion (batch/batchh) —
    and reject 2-edit siblings (spark/stack) and transpositions at
    distance 2 (trial/trail stays OUT only if lev=2; lever/level IS
    lev 1 substitution)."""
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        word_typo_pairs_from,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark sparc table tble batch batchh"),
            (2, "spark table batch stack lever level"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["word_a"], r["word_b"])
        for r in word_typo_pairs_from(docs).collect()
    }
    assert got == {
        ("sparc", "spark"),
        ("table", "tble"),
        ("batch", "batchh"),
        ("level", "lever"),
    }


def test_word_typo_pairs_blocking_complete_vs_bruteforce(spark):
    """FastSS completeness: on a randomized-but-fixed vocabulary the
    blocked join must return EXACTLY the brute-force levenshtein<=1
    pair set (the blocking is a candidate filter, never a recall
    loss)."""
    import itertools
    import random

    from honors_p1_mapreduce_spark.operators.curation_ext import (
        TYPO_MIN_LEN,
        word_typo_pairs_from,
    )

    rng = random.Random(42)
    base = ["".join(rng.choices("abc", k=rng.randint(4, 7))) for _ in range(60)]
    # seed guaranteed neighbors: deletions, substitutions, insertions
    vocab = set(base)
    for w in base[:20]:
        vocab.add(w[1:])                      # deletion
        vocab.add("a" + w)                    # insertion
        vocab.add(w[:2] + "z" + w[3:])        # substitution
    words = sorted(w for w in vocab if len(w) >= TYPO_MIN_LEN)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], ["doc_id", "text"]
    )

    def lev(a: str, b: str) -> int:
        if len(a) > len(b):
            a, b = b, a
        prev = list(range(len(a) + 1))
        for j, cb in enumerate(b, 1):
            cur = [j]
            for i, ca in enumerate(a, 1):
                cur.append(
                    min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    expect = {
        (a, b)
        for a, b in itertools.combinations(words, 2)
        if lev(a, b) <= 1
    }
    got = {
        (r["word_a"], r["word_b"]) for r in word_typo_pairs_from(docs).collect()
    }
    assert got == expect
    assert len(expect) >= 20  # the seeding actually produced neighbors


def test_winsorized_stats_invariants(spark, sf_dir):
    """Winsorized sum is bounded by [n*lo, n*hi]; clip counts respect
    the 1% tails (at most ~1% each side, never more than lo_rank /
    n - hi_rank rows); differential vs a Python winsorization on the
    collected frame."""
    from honors_p1_mapreduce_spark.operators.events import (
        events_winsorized_stats,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    rows = {r["event_type"]: r for r in events_winsorized_stats(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["value"], r["event_id"]))
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        lo = vals[(n + 99) // 100 - 1][0]
        hi = vals[(99 * n + 99) // 100 - 1][0]
        r = rows[t]
        assert (r["lo"], r["hi"]) == (lo, hi)
        assert r["n_events"] == n
        expect_sum = sum(min(max(v, lo), hi) for v, _ in vals)
        assert abs(r["winsorized_sum"] - expect_sum) < 1e-6 * max(1, abs(expect_sum))
        assert r["n_clipped_lo"] == sum(1 for v, _ in vals if v < lo)
        assert r["n_clipped_hi"] == sum(1 for v, _ in vals if v > hi)


def test_dataset_build_audit_funnel_invariants(spark, sf_dir):
    """Stage monotonicity + the budget and split contracts: every
    stage shrinks, the budget stage's tokens fit half of the deduped
    pool, and the train stage keeps ~90% of the selection."""
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        BUDGET_DEN,
        BUDGET_NUM,
        dataset_build_audit,
    )

    rows = {r["stage"]: r for r in dataset_build_audit(spark, sf_dir).collect()}
    order = ["0_all", "1_quality", "2_exact_dedup", "3_budget", "4_train"]
    assert set(rows) == set(order)
    for a, b in zip(order, order[1:]):
        assert rows[b]["n_docs"] <= rows[a]["n_docs"]
        assert rows[b]["n_bpe_tokens"] <= rows[a]["n_bpe_tokens"]
    assert (
        rows["3_budget"]["n_bpe_tokens"] * BUDGET_DEN
        <= rows["2_exact_dedup"]["n_bpe_tokens"] * BUDGET_NUM
    )
    assert 0.7 < rows["4_train"]["n_docs"] / rows["3_budget"]["n_docs"] <= 1.0


def test_chunk_boilerplate_detects_seeded_banner(spark):
    """A banner paragraph repeated across docs must be flagged as
    boilerplate in every doc that carries it, while each doc's unique
    body stays clean; a doc without the banner reports zero."""
    from honors_p1_mapreduce_spark.operators.text_analysis import (
        CHUNK_TOKENS,
        chunk_documents,
    )
    from pyspark.sql import functions as F

    banner = " ".join(f"banner{i}" for i in range(CHUNK_TOKENS))
    bodies = {
        1: " ".join(f"alpha{i}" for i in range(CHUNK_TOKENS)),
        2: " ".join(f"beta{i}" for i in range(CHUNK_TOKENS)),
        3: " ".join(f"gamma{i}" for i in range(CHUNK_TOKENS)),
    }
    docs = spark.createDataFrame(
        [
            (1, banner + " " + bodies[1]),
            (2, banner + " " + bodies[2]),
            (3, bodies[3]),
        ],
        ["doc_id", "text"],
    )
    chunks = chunk_documents(docs).select(
        "doc_id", "chunk_tokens", F.md5("chunk_text").alias("h")
    )
    from honors_p1_mapreduce_spark.operators.text_analysis import BOILER_MIN_DOCS

    boiler = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
    )
    flagged = chunks.join(boiler.select("h"), "h").groupBy("doc_id").count()
    got = {r["doc_id"]: r["count"] for r in flagged.collect()}
    # docs 1 and 2 share the banner chunk (chunk 0 == exactly the
    # banner: CHUNK_TOKENS tokens); doc 3 has no shared chunk
    assert got.get(1, 0) >= 1
    assert got.get(2, 0) >= 1
    assert 3 not in got


def test_lm_interp_score_golden_smoothing(spark):
    """Exact integer golden for the Jelinek-Mercer interpolation: a
    deterministic (cnt=1, ctx=1) bigram scores 1e6 under the raw MLE
    but is pulled down by its rare unigram under interpolation —
    div(9*1e6 + div(1*1e6, 6), 10) = 916666 — while a 2-way context
    halves the bigram term."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        lm_interp_score,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table  # noqa: F401
    import honors_p1_mapreduce_spark.operators.lm_quality as lm

    docs = spark.createDataFrame(
        [(1, "xx yy"), (2, "aa bb"), (3, "aa cc")], ["doc_id", "text"]
    )
    # drive the library path via a monkeypatched loader-free body:
    # rebuild the operator inline over the frame
    from pyspark.sql import functions as F
    from honors_p1_mapreduce_spark.functions.text import (
        bigrams_from_tokens,
        tokens_col,
    )

    toks = docs.select(F.explode(tokens_col("text")).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("ucnt"))
    tot = uni.agg(F.sum("ucnt").alias("t"))
    p_uni = uni.join(F.broadcast(tot)).select(
        F.col("w").alias("w2"), F.expr(f"div(ucnt * {lm.PPM}, t)").alias("pu_ppm")
    )
    occ = docs.select(
        "doc_id", F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg")
    )
    bg = occ.groupBy("bg").agg(F.count("*").alias("cnt"))
    ctx = (
        bg.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1").agg(F.sum("cnt").alias("ctx"))
    )
    scores = (
        bg.withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(ctx, "w1").join(p_uni, "w2")
        .select("bg", F.expr(
            f"div({lm.LM_LAMBDA_NUM} * div(cnt * {lm.PPM}, ctx) + pu_ppm, "
            f"{lm.LM_LAMBDA_DEN})").alias("pi_ppm"))
    )
    got = {r["bg"]: r["pi_ppm"] for r in scores.collect()}
    # 6 tokens total, each unigram count 1 except aa (2)
    assert got["xx yy"] == (9 * 1_000_000 + 1_000_000 // 6) // 10  # 916666
    assert got["aa bb"] == (9 * 500_000 + 1_000_000 // 6) // 10    # 466666
    assert got["aa cc"] == got["aa bb"]


def test_events_value_outliers_overflow_is_loud(spark, tmp_path):
    """Past the documented n*max|x6| < 5e18 exactness bound the
    decimal(38,0) cross-multiplies overflow; the query must FAIL
    LOUDLY (assert_true), mirroring DuckDB's HUGEINT overflow error,
    instead of silently dropping rows via NULL filters (round-6
    advisor finding)."""
    import pytest

    rows = [(i, "t", 9.0e11 if i % 2 else -9.0e11, i * 10**9) for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double, ts bigint"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    # Under the session default (ANSI on, Spark 4) the decimal multiply
    # itself raises NUMERIC_VALUE_OUT_OF_RANGE; under ANSI-off sessions
    # the explicit assert_true guard fires instead. Either way: loud.
    with pytest.raises(
        Exception, match="5e18|exceeded decimal|NUMERIC_VALUE_OUT_OF_RANGE"
    ):
        cx.events_value_outliers(spark, str(tmp_path)).collect()


def test_events_value_mad_outliers_matches_python(spark, sf_dir):
    """Differential vs an independent Python median/MAD computation
    under the identical lower-median (rank (n+1)//2 on (value, id))
    definition, and the robustness claim itself: a planted extreme
    spike must not unflag the moderate outliers the way it would
    under the mean/variance z-test."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r)
    expect = set()
    for t, rows in by_type.items():
        xs = sorted(
            (int(round(r["value"] * 1_000_000)), r["event_id"]) for r in rows
        )
        n = len(xs)
        med = xs[(n + 1) // 2 - 1][0]
        devs = sorted((abs(x - med), eid) for x, eid in xs)
        mad = devs[(n + 1) // 2 - 1][0]
        for x, eid in xs:
            if abs(x - med) * cx.MAD_DEN > cx.MAD_NUM * mad:
                expect.add(eid)
    got = {
        r["event_id"]
        for r in cx.events_value_mad_outliers(spark, sf_dir).collect()
    }
    assert got == expect
    assert got  # corpus has outlier mass


def test_winsorized_fast_twin_agrees_with_exact(spark, sf_dir):
    """The approx_percentile fast twin must agree with the exact
    order-statistic variant within the sketch's rank-error bound:
    identical n_events per type, clip boundaries between the exact
    neighbors implied by the error, winsorized sums within the bound
    implied by mis-clipping at most n/accuracy rows per side."""
    from honors_p1_mapreduce_spark.operators.events import (
        events_winsorized_stats,
        events_winsorized_stats_fast,
    )

    exact = {r["event_type"]: r for r in events_winsorized_stats(spark, sf_dir).collect()}
    fast = {r["event_type"]: r for r in events_winsorized_stats_fast(spark, sf_dir).collect()}
    assert set(exact) == set(fast)
    for t in exact:
        e, f = exact[t], fast[t]
        assert f["n_events"] == e["n_events"]
        n = e["n_events"]
        # boundaries within a small neighborhood of the exact ones:
        # allow the sketch to land within 5% of the type's value span
        span = float(e["hi"]) - float(e["lo"]) or 1.0
        assert abs(float(f["lo"]) - float(e["lo"])) <= 0.05 * span + 1e-9
        assert abs(float(f["hi"]) - float(e["hi"])) <= 0.05 * span + 1e-9
        # clip counts move by at most the mis-ranked rows (loose 1%)
        assert abs(f["n_clipped_lo"] - e["n_clipped_lo"]) <= max(5, n // 100)
        assert abs(f["n_clipped_hi"] - e["n_clipped_hi"]) <= max(5, n // 100)
        assert abs(float(f["winsorized_sum"]) - float(e["winsorized_sum"])) <= (
            0.02 * abs(float(e["winsorized_sum"])) + 1.0
        )


def test_events_burst_runs_golden_planted_bursts(spark, tmp_path):
    """Gaps-and-islands golden: planted hourly volumes must merge
    adjacent above-threshold hours into one run, split at gaps, and
    drop sub-threshold hours entirely — exact run boundaries, lengths,
    totals and peaks."""
    from datetime import datetime, timezone

    from honors_p1_mapreduce_spark.operators.events import (
        BURST_THRESHOLD,
        events_burst_runs,
    )

    def ns(day, hour, k):
        dt = datetime(2024, 1, day, hour, 0, k, tzinfo=timezone.utc)
        return int(dt.timestamp() * 1e9) + k  # distinct ns per event

    rows = []
    eid = 0
    # run A: hours 3,4,5 at/above threshold (5, 4, 6 events)
    for hour, cnt in [(3, 5), (4, 4), (5, 6)]:
        for k in range(cnt):
            rows.append((eid, "err", 1.0, ns(1, hour, k))); eid += 1
    # gap: hour 6 BELOW threshold (3 events) — must split runs
    for k in range(BURST_THRESHOLD - 1):
        rows.append((eid, "err", 1.0, ns(1, 6, k))); eid += 1
    # run B: hour 7 alone (4 events)
    for k in range(BURST_THRESHOLD):
        rows.append((eid, "err", 1.0, ns(1, 7, k))); eid += 1
    # other type: never above threshold
    for k in range(2):
        rows.append((eid, "ok", 1.0, ns(1, 3, k))); eid += 1
    spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double, ts bigint"
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["event_type"], r["run_start"].hour, r["run_end"].hour): (
            r["n_hours"],
            r["total_events"],
            r["peak_events"],
        )
        for r in events_burst_runs(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("err", 3, 5): (3, 15, 6),
        ("err", 7, 7): (1, 4, 4),
    }


def test_events_drift_chisq_detects_planted_shift(spark, tmp_path):
    """Planted drift: type 'shifted' doubles its values in the late
    half (mass leaves the early bins), type 'stable' keeps the same
    distribution. The chi-square gate must flag exactly the shifted
    type. Deterministic inputs — no randomness."""
    import datetime

    from honors_p1_mapreduce_spark.operators.events import (
        events_drift_chisq,
    )

    def day(d):
        return datetime.datetime(2024, 1, d)

    rows = []
    eid = 0
    for d in range(1, 21):  # days 1-10 early, 11-20 late (mid = day 10)
        late = d > 10
        for i in range(200):
            v = float(i % 100)
            rows.append((eid, day(d), i, "stable", v, "{}"))
            eid += 1
            rows.append(
                (eid, day(d), i, "shifted", v * 2.0 if late else v, "{}")
            )
            eid += 1
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/events.parquet")
    out = {r["event_type"]: r for r in events_drift_chisq(spark, dirp).collect()}
    assert out["shifted"]["drifted"] is True
    assert out["stable"]["drifted"] is False
    assert out["shifted"]["chi_sq"] > 10 * out["stable"]["chi_sq"]


def test_events_drift_chisq_flags_late_only_type(spark, tmp_path):
    """A type that FIRST appears in the late half has no early
    reference frame — the exact new-ingest anomaly a drift gate must
    flag, not silently drop (r8 advisor finding). It must appear in
    the output with n_early = 0 and drifted = True, and the DuckDB
    oracle must agree row-for-row on the same synthetic corpus."""
    import datetime

    import duckdb

    from honors_p1_mapreduce_spark.operators.events import (
        EVENTS_DRIFT_CHISQ_ORACLE,
        events_drift_chisq,
    )

    def day(d):
        return datetime.datetime(2024, 1, d)

    rows = []
    eid = 0
    for d in range(1, 21):  # days 1-10 early, 11-20 late (mid = day 10)
        late = d > 10
        for i in range(50):
            rows.append((eid, day(d), i, "stable", float(i % 10), "{}"))
            eid += 1
            if late:
                rows.append((eid, day(d), i, "brand_new", float(i), "{}"))
                eid += 1
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/events.parquet")

    out = {r["event_type"]: r for r in events_drift_chisq(spark, dirp).collect()}
    assert set(out) == {"stable", "brand_new"}
    assert out["brand_new"]["n_early"] == 0
    assert out["brand_new"]["n_late"] == 500
    assert out["brand_new"]["drifted"] is True
    assert out["stable"]["drifted"] is False

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM"
            f" read_parquet('{dirp}/events.parquet/*.parquet')"
        )
        ora = {
            r[0]: r for r in con.execute(EVENTS_DRIFT_CHISQ_ORACLE).fetchall()
        }
    finally:
        con.close()
    assert set(ora) == set(out)
    for t, r in out.items():
        assert (
            r["n_early"],
            r["n_late"],
            r["chi_sq"],
            r["drifted"],
        ) == tuple(ora[t][1:]), t


def test_dataset_publish_manifest_roundtrip_preserves_corpus(spark, sf_dir):
    """The published partitioned parquet must contain exactly the
    source corpus: manifest totals equal direct counts and the
    checksum of the read-back equals a checksum computed with no
    write at all."""
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.curation_ext import (
        dataset_publish_manifest,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    man = dataset_publish_manifest(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    totals = man.agg(
        F.sum("n_docs").alias("d"), F.sum("sum_chars").alias("c")
    ).collect()[0]
    direct = docs.agg(
        F.count("*").alias("d"), F.sum("n_chars").alias("c")
    ).collect()[0]
    assert (totals["d"], totals["c"]) == (direct["d"], direct["c"])
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    xor_all_published = man.agg(
        F.bit_xor("content_checksum").alias("x")
    ).collect()[0]["x"]
    # per-group xors fold to the global xor only if every doc came
    # back exactly once (xor cancels pairs — duplicates would vanish)
    xor_all_direct = docs.agg(F.bit_xor(h).alias("x")).collect()[0]["x"]
    assert xor_all_published == xor_all_direct


# ------------------------------------ LM takedown / retract (r10)


def test_lm_retract_counts_equal_retrain(spark, sf_dir, tmp_path):
    """Count subtraction must equal retraining on the kept corpus at
    the count-frame level (integer-exact), and subtracting an empty
    delta is the identity."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        _lm_count_frames,
        lm_write_counts,
        retract_counts,
    )
    from honors_p1_mapreduce_spark.operators.winnow import (
        RETRACT_MOD,
        RETRACT_RESIDUE,
    )
    from pyspark.sql import functions as F

    d = str(tmp_path / "lm_counts")
    lm_write_counts(spark, sf_dir, d)
    removed_pred = F.col("doc_id") % RETRACT_MOD == RETRACT_RESIDUE
    occ_r, uni_r, bg_r, tok_r = _lm_count_frames(
        spark, sf_dir, pred=removed_pred
    )
    occ_k, uni_k, bg_k, tok_k = _lm_count_frames(
        spark, sf_dir, pred=~removed_pred
    )
    stored_bg = spark.read.parquet(f"{d}/bigram_counts")
    stored_uni = spark.read.parquet(f"{d}/unigram_counts")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(retract_counts(stored_bg, bg_r, "bg", "cnt")) == rows(bg_k)
    assert rows(retract_counts(stored_uni, uni_r, "w", "ucnt")) == rows(
        uni_k
    )
    empty = bg_r.filter("cnt < 0")
    assert rows(retract_counts(stored_bg, empty, "bg", "cnt")) == rows(
        stored_bg
    )
    for f in (occ_r, occ_k, tok_r, tok_k):
        f.unpersist()


def test_lm_model_retract_matches_oracle(spark, sf_dir):
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        LM_MODEL_RETRACT_ORACLE,
        lm_model_retract,
    )

    from .oracle import compare_query

    compare_query(spark, sf_dir, lm_model_retract, LM_MODEL_RETRACT_ORACLE)


def test_lm_read_path_frames_released_by_reset_memos(spark, sf_dir):
    """r11 advisor: lm_interp_score / lm_bigram_score return lazy
    plans over persisted frames they cannot unpersist themselves, so
    the read path leaked one cached frame per invocation (the writer
    and retract paths were fixed in r10/r11). The frames now enroll
    in lm_quality._READ_FRAMES_CACHE and registry.reset_memos — which
    perfbench and the CLI already call after materializing — must
    actually release the executor blocks, not just drop references."""
    import honors_p1_mapreduce_spark.operators.lm_quality as lm
    from honors_p1_mapreduce_spark import registry
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        lm_bigram_score,
        lm_interp_score,
    )

    registry.reset_memos()
    assert not lm._READ_FRAMES_CACHE
    lm_interp_score(spark, sf_dir).count()
    lm_bigram_score(spark, sf_dir).count()
    # interp enrolls occ + tok_arr, bigram enrolls occ: 3 frames, all
    # actually cached after materialization
    frames = list(lm._READ_FRAMES_CACHE.values())
    assert len(frames) == 3
    assert all(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)
    registry.reset_memos()
    assert not lm._READ_FRAMES_CACHE
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk)
        for f in frames
    )


def test_corpus_snapshot_diff_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        cx.corpus_snapshot_diff,
        cx.CORPUS_SNAPSHOT_DIFF_ORACLE,
    )


def test_snapshot_diff_statuses_golden(spark):
    """Tiny hand-built snapshots: one of each status, plus an
    unchanged doc that must NOT appear."""
    old = spark.createDataFrame(
        [(1, "ha"), (2, "hb"), (3, "hc")], ["doc_id", "h"]
    )
    new = spark.createDataFrame(
        [(1, "ha"), (2, "hb2"), (4, "hd")], ["doc_id", "h"]
    )
    out = {r["doc_id"]: r["status"] for r in cx.snapshot_diff(old, new).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_corpus_snapshot_diff_python_differential(spark, sf_dir):
    """Statuses recomputed row-by-row in Python from the same
    derivation rules; short %3 docs must read unchanged (rotation is
    the identity on texts <= SNAP_ROT chars)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    exp: dict[int, str] = {}
    old = {}
    new = {}
    for r in docs:
        if r["doc_id"] % cx.SNAP_OLD_MOD != cx.SNAP_OLD_RESIDUE:
            old[r["doc_id"]] = r["text"]
        if r["doc_id"] % cx.SNAP_NEW_MOD != cx.SNAP_NEW_RESIDUE:
            t = r["text"]
            if r["doc_id"] % cx.SNAP_CHANGE_MOD == 0:
                t = t[cx.SNAP_ROT:] + t[: cx.SNAP_ROT]
            new[r["doc_id"]] = t
    for d in set(old) | set(new):
        if d not in old:
            exp[d] = "added"
        elif d not in new:
            exp[d] = "removed"
        elif old[d] != new[d]:
            exp[d] = "changed"
    got = {
        r["doc_id"]: r["status"]
        for r in cx.corpus_snapshot_diff(spark, sf_dir).collect()
    }
    assert got == exp
    # the corpus actually exercises all three statuses at this SF
    assert set(exp.values()) == {"added", "removed", "changed"}


def test_winnow_index_refresh_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        cx.winnow_index_refresh,
        cx.WINNOW_INDEX_REFRESH_ORACLE,
    )


def test_winnow_index_refresh_equals_rebuild(spark, sf_dir):
    """The strong pin: the delta-refreshed index frame is
    row-identical to a from-scratch extraction over the NEW snapshot
    — refresh(index(old), diff) == index(new)."""
    from honors_p1_mapreduce_spark.sources.tables import _artifact_dir
    from honors_p1_mapreduce_spark.operators.winnow import (
        winnow_fingerprints_chunked_from,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table as lt

    cx.winnow_index_refresh(spark, sf_dir).count()  # writes d_new
    d_new = _artifact_dir(spark, sf_dir, "winnow_snap_new")
    refreshed = spark.read.parquet(f"{d_new}/fingerprints")
    _, new_docs, _, _ = cx._snapshot_frames(lt(spark, sf_dir, "documents"))
    rebuilt = winnow_fingerprints_chunked_from(new_docs)
    assert refreshed.count() == rebuilt.count()
    assert (
        refreshed.unionByName(rebuilt).distinct().count() == rebuilt.distinct().count()
    )
    # refresh genuinely worked in O(churn): some rows were kept from
    # the old index AND some were freshly extracted
    diff = cx.corpus_snapshot_diff(spark, sf_dir)
    statuses = {r["status"] for r in diff.select("status").distinct().collect()}
    assert statuses == {"added", "removed", "changed"}


def test_winnow_index_refresh_stored_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        cx.winnow_index_refresh_stored,
        cx.WINNOW_INDEX_REFRESH_STORED_ORACLE,
    )


def test_winnow_refresh_mor_equals_eager_and_compacts(spark, sf_dir):
    """The merge-on-read layers reconcile to EXACTLY the eagerly
    refreshed index: mor(base, delta) == rebuild(new snapshot) row
    set, compaction materializes the same rows, and the stored twin's
    drop-list equals the self-contained refresh's."""
    from honors_p1_mapreduce_spark.sources.tables import _artifact_dir
    from honors_p1_mapreduce_spark.operators.winnow import (
        winnow_fingerprints_chunked_from,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table as lt

    stored = sorted(
        map(tuple, cx.winnow_index_refresh_stored(spark, sf_dir).collect())
    )
    d_base = _artifact_dir(spark, sf_dir, "winnow_snap_base")
    d_delta = _artifact_dir(spark, sf_dir, "winnow_snap_delta")
    mor = cx.winnow_read_index_mor(spark, d_base, d_delta)
    _, new_docs, _, _ = cx._snapshot_frames(lt(spark, sf_dir, "documents"))
    rebuilt = winnow_fingerprints_chunked_from(new_docs)
    assert mor.count() == rebuilt.count()
    assert (
        mor.unionByName(rebuilt).distinct().count() == rebuilt.distinct().count()
    )
    # tombstones + delta are genuinely churn-scoped layers: both
    # non-empty, and no doc contributes rows from two layers
    tomb = spark.read.parquet(f"{d_delta}/tombstones")
    delta = spark.read.parquet(f"{d_delta}/delta_fingerprints")
    assert tomb.count() > 0 and delta.count() > 0
    base_kept_docs = (
        spark.read.parquet(f"{d_base}/fingerprints")
        .join(tomb, "doc_id", "left_anti")
        .select("doc_id")
        .distinct()
    )
    assert (
        base_kept_docs.join(delta.select("doc_id").distinct(), "doc_id").count()
        == 0
    )
    # compaction folds the layers into a clean base with the same rows
    d_comp = _artifact_dir(spark, sf_dir, "winnow_snap_compact")
    cx.winnow_compact_index(spark, d_base, d_delta, d_comp)
    comp = spark.read.parquet(f"{d_comp}/fingerprints")
    assert comp.count() == rebuilt.count()
    assert (
        comp.unionByName(rebuilt).distinct().count()
        == rebuilt.distinct().count()
    )
    # and the stored twin serves the same drop-list as the
    # self-contained refresh
    eager = sorted(
        map(tuple, cx.winnow_index_refresh(spark, sf_dir).collect())
    )
    assert stored == eager and stored


def test_winnow_refresh_stored_reuses_shipped_base(spark, sf_dir):
    """Build-if-absent: the second call must NOT rewrite the base
    index (that is the artifact the twin exists to avoid rebuilding)
    — pinned via the parquet directory's file listing + mtimes."""
    import os

    from honors_p1_mapreduce_spark.sources.tables import _artifact_dir

    cx.winnow_index_refresh_stored(spark, sf_dir).count()
    d_base = _artifact_dir(spark, sf_dir, "winnow_snap_base")
    listing = {
        f: os.path.getmtime(os.path.join(d_base, "fingerprints", f))
        for f in os.listdir(f"{d_base}/fingerprints")
    }
    cx.winnow_index_refresh_stored(spark, sf_dir).count()
    listing2 = {
        f: os.path.getmtime(os.path.join(d_base, "fingerprints", f))
        for f in os.listdir(f"{d_base}/fingerprints")
    }
    assert listing == listing2, "base index rewritten on reuse"


def test_snapshot_diff_null_text_batch_streaming_agree(spark, tmp_path):
    """NULL-text docs must get the SAME treatment on both paths: the
    content hash is total (md5 of coalesce(text, '')), so a NULL-text
    doc present in both snapshots reads unchanged, one present on a
    single side reads added/removed — and batch == streaming. Before
    the coalesce, batch read the in-both case as 'removed' while the
    streaming filter's three-valued != dropped the row (r16 advisor)."""
    import pandas as pd

    from honors_p1_mapreduce_spark.streaming.curation import (
        read_snapshot_diff_from_store,
        streaming_snapshot_diff,
    )

    # doc 1: both snapshots, NULL text -> unchanged (absent from diff)
    # doc 2: %7==2 -> NEW only, NULL text -> 'added'
    # doc 3: %5==3 -> OLD only, NULL text -> 'removed'
    # docs 5/6: both, non-null (6%3==0 rotates -> 'changed')
    rows = [
        (1, None),
        (2, None),
        (3, None),
        (5, "stable text that is long"),
        (6, "text longer than the rotation offset so it changes"),
    ]
    sf = tmp_path / "nullsf"
    sf.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
        lang="en", source="t", n_chars=0
    ).to_parquet(sf / "documents.parquet")

    batch = {
        r["doc_id"]: r["status"]
        for r in cx.corpus_snapshot_diff(spark, str(sf)).collect()
    }
    assert batch == {2: "added", 3: "removed", 6: "changed"}

    idx = str(tmp_path / "nidx")
    store = str(tmp_path / "nstore")
    ckpt = str(tmp_path / "nckpt")
    cx.snapshot_write_hashes(spark, str(sf), idx)
    streaming_snapshot_diff(spark, str(sf), idx, store, ckpt)
    streamed = {
        r["doc_id"]: r["status"]
        for r in read_snapshot_diff_from_store(spark, store, idx).collect()
    }
    assert streamed == batch


def test_streaming_snapshot_diff_matches_batch(spark, sf_dir, tmp_path):
    """Draining the NEW snapshot stream against the stored
    old-snapshot hash registry, then reconciling 'removed' as
    registry-anti-manifest, must reproduce the batch
    corpus_snapshot_diff answer exactly — per-doc added/changed
    depends only on the static registry, so micro-batch boundaries
    cannot matter, and absence is decidable only after the drain."""
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_snapshot_diff_from_store,
        streaming_snapshot_diff,
    )

    idx = str(tmp_path / "snap_idx")
    store = str(tmp_path / "snap_store")
    ckpt = str(tmp_path / "snap_ckpt")
    cx.snapshot_write_hashes(spark, sf_dir, idx)
    streaming_snapshot_diff(spark, sf_dir, idx, store, ckpt)
    streamed = sorted(
        map(tuple, read_snapshot_diff_from_store(spark, store, idx).collect())
    )
    batch = sorted(
        map(tuple, cx.corpus_snapshot_diff(spark, sf_dir).collect())
    )
    assert streamed == batch and streamed  # equal AND non-vacuous
    # every status genuinely exercised through the streaming path
    assert {s for _, s in streamed} == {"added", "removed", "changed"}


def test_lm_model_refresh_matches_oracle(spark, sf_dir):
    from honors_p1_mapreduce_spark.operators import lm_quality as lm

    compare_query(
        spark, sf_dir, lm.lm_model_refresh, lm.LM_MODEL_REFRESH_ORACLE
    )


def test_lm_refresh_counts_equal_retrain(spark, sf_dir):
    """The strong pin: stored(old) - counts(leaving, OLD text) +
    counts(entering, NEW text) equals a from-scratch recount of the
    NEW snapshot, bigram and unigram tables both — exact integer
    arithmetic, no tolerance."""
    from honors_p1_mapreduce_spark.operators import lm_quality as lm
    from honors_p1_mapreduce_spark.operators.curation_ext import (
        _snapshot_frames,
        snapshot_diff,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    old_docs, new_docs, old_h, new_h = _snapshot_frames(docs)
    _, uni_o, bg_o, _ = lm._lm_count_frames_from(old_docs)
    diff = snapshot_diff(old_h, new_h)
    leave = diff.filter(F.col("status") != "added").select("doc_id")
    enter = diff.filter(F.col("status") != "removed").select("doc_id")
    _, uni_l, bg_l, _ = lm._lm_count_frames_from(
        old_docs.join(leave, "doc_id")
    )
    _, uni_e, bg_e, _ = lm._lm_count_frames_from(
        new_docs.join(enter, "doc_id")
    )
    r_uni = lm.merge_counts(
        lm.retract_counts(uni_o, uni_l, "w", "ucnt"), uni_e, "w", "ucnt"
    )
    r_bg = lm.merge_counts(
        lm.retract_counts(bg_o, bg_l, "bg", "cnt"), bg_e, "bg", "cnt"
    )
    _, uni_n, bg_n, _ = lm._lm_count_frames_from(new_docs)
    got_u = {r["w"]: r["ucnt"] for r in r_uni.collect()}
    want_u = {r["w"]: r["ucnt"] for r in uni_n.collect()}
    assert got_u == want_u and got_u
    got_b = {r["bg"]: r["cnt"] for r in r_bg.collect()}
    want_b = {r["bg"]: r["cnt"] for r in bg_n.collect()}
    assert got_b == want_b and got_b


def test_lm_merge_counts_additive_mirror(spark):
    """merge_counts: keys new to the delta ENTER (full outer), shared
    keys add exactly, and a retract-then-merge roundtrip that cancels
    leaves the original counts."""
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        merge_counts,
        retract_counts,
    )

    stored = spark.createDataFrame(
        [("a", 3), ("b", 1)], ["w", "ucnt"]
    ).selectExpr("w", "CAST(ucnt AS BIGINT) ucnt")
    delta = spark.createDataFrame(
        [("b", 2), ("c", 5)], ["w", "ucnt"]
    ).selectExpr("w", "CAST(ucnt AS BIGINT) ucnt")
    merged = {r["w"]: r["ucnt"] for r in merge_counts(stored, delta, "w", "ucnt").collect()}
    assert merged == {"a": 3, "b": 3, "c": 5}
    # cancel: (stored - delta') + delta' == stored, including a key
    # that transiently hits zero and re-enters
    back = merge_counts(
        retract_counts(stored, delta.filter("w = 'b'").withColumn(
            "ucnt", delta.ucnt - 1), "w", "ucnt"),
        delta.filter("w = 'b'").withColumn("ucnt", delta.ucnt - 1),
        "w",
        "ucnt",
    )
    assert {r["w"]: r["ucnt"] for r in back.collect()} == {"a": 3, "b": 1}


def test_streaming_winnow_refresh_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Draining the NEW snapshot stream through per-batch churn
    extraction + changed-id tombstones, then reconciling post-drain
    (removed = registry ANTI manifest), must reproduce EXACTLY the
    batch rebuild of the NEW snapshot's fingerprint index — and so
    the batch merge-on-read refresh too (they are pinned equal
    elsewhere). The maintenance twin of streaming_snapshot_diff."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        winnow_fingerprints_chunked_from,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table as lt
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_refreshed_index_from_store,
        streaming_winnow_refresh,
    )

    idx = str(tmp_path / "ridx")
    store = str(tmp_path / "rstore")
    ckpt = str(tmp_path / "rckpt")
    docs = lt(spark, sf_dir, "documents")
    old_docs, new_docs, old_h, _ = cx._snapshot_frames(docs)
    winnow_fingerprints_chunked_from(old_docs).write.parquet(
        f"{idx}/fingerprints"
    )
    old_h.write.parquet(f"{idx}/snapshot_hashes")
    streaming_winnow_refresh(spark, sf_dir, idx, store, ckpt)
    streamed = read_refreshed_index_from_store(spark, idx, store)
    rebuilt = winnow_fingerprints_chunked_from(new_docs)
    assert streamed.count() == rebuilt.count()
    assert (
        streamed.unionByName(rebuilt).distinct().count()
        == rebuilt.distinct().count()
    )
    # non-vacuous: the drained store holds genuine churn layers
    assert spark.read.parquet(f"{store}/changed").count() > 0
    assert spark.read.parquet(f"{store}/delta_fingerprints").count() > 0
