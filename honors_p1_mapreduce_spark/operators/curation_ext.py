"""Curation surface extensions (round 6): the dataset-assembly
operators a training pipeline runs AFTER cleaning — split assignment,
per-source health profiling, token-budget selection — plus a portable
statistical outlier scan over the events stream.

North-star LLM-pipeline surface; the reference engine has nothing
comparable (its text ops stop at tokenize/count — SURVEY.md §2.3/§2.4).

Every operator is built-in Catalyst expressions end-to-end (no Python
in any hot path) and every numeric decision runs in integer/decimal
arithmetic so the DuckDB oracles hash-match bit-for-bit:

- :func:`dataset_split` — deterministic hash train/val/test assignment
  (the reproducibility contract: a rand()-based split silently
  reshuffles under task retry; a seeded-md5 split never does).
- :func:`source_profile` — per-source corpus health: volume, exact-dup
  mass, language spread (the "which crawl source is dirty" dashboard).
- :func:`token_budget_select` — keep the highest-quality documents
  whose tokens fit a fixed budget. Implemented the way it must run at
  100 TB: a tiny per-quality-bucket histogram picks the quality
  cutoff, full buckets above the cutoff are kept by a map-side filter,
  and only the single BOUNDARY bucket pays a per-document ordered
  scan — no global sort of the corpus, ever.
- :func:`events_value_outliers` — per-type 3-sigma outliers with the
  z-test done in cross-multiplied integer form ((n·x−S)² > 9(n·SS−S²)),
  so no division or sqrt touches a float and both engines agree on
  every boundary row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col, tokens_sql
from ..sources.tables import load_table
from .pipeline import _features, features_sql

_TOK = tokens_sql("text")

# ------------------------------------------------------ dataset split

SPLIT_SEED = "split1"  # re-rolls every assignment when changed
TRAIN_PCT = 90
VAL_PCT = 5  # test gets the remainder


def _split_bucket(doc_id) -> F.Column:
    """Deterministic bucket in [0, 100) from (seed, doc_id), md5-derived
    — same construction as pipeline._uniform, kept integer all the way."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SEED), doc_id.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit frame of the deterministic train/val/test assignment:
    (source, split, n_docs, sum_chars), one row per source x split.

    Map-only plan: per-row md5 bucket -> split label, then one tiny
    keyed aggregate (sources x 3 rows). The assignment itself is the
    same expression applied as a column — stable under retries,
    engine-portable, and stratification-auditable per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _split_bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


DATASET_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT source, n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('{SPLIT_SEED}', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS BIGINT) AS bk
  FROM documents
)
SELECT source,
       CASE WHEN bk < {TRAIN_PCT} THEN 'train'
            WHEN bk < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b
GROUP BY 1, 2
"""

# ---------------------------------------------------- source profile


def source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: (source, n_docs, n_dup_copies,
    n_langs, sum_chars).

    ``n_dup_copies`` counts documents that are NOT the lowest-id member
    of their corpus-wide exact-duplicate group (md5(text)) — i.e. the
    redundant mass this source contributes. Plan: one hash-aggregate
    over content hashes (map-side combined) broadcast-joined back to
    the doc frame, then one tiny per-source aggregate. No row of text
    ever shuffles; only hashes do.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", "lang", "n_chars", F.md5("text").alias("h"))
    heads = d.groupBy("h").agg(F.min("doc_id").alias("head_id"))
    return (
        d.join(heads, "h")
        .select(
            "source",
            "lang",
            "n_chars",
            (F.col("doc_id") != F.col("head_id")).cast("int").alias("dup"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dup").alias("n_dup_copies"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


SOURCE_PROFILE_ORACLE = """
WITH d AS (
  SELECT doc_id, source, lang, n_chars, md5(text) AS h FROM documents
),
heads AS (SELECT h, min(doc_id) AS head_id FROM d GROUP BY h)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id <> heads.head_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_copies,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM d JOIN heads ON d.h = heads.h
GROUP BY d.source
"""

# --------------------------------------------- token-budget selection

# budget = this numerator/denominator of the corpus's total BPE tokens
BUDGET_NUM = 1
BUDGET_DEN = 2
QB_SCALE = 1_000_000  # quality double -> ppm bucket (integer, portable)


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the highest-quality documents whose BPE tokens fit a
    budget of ``BUDGET_NUM/BUDGET_DEN`` of the corpus total; output the
    per-source audit (source, n_docs, n_tokens) of the selected set.

    100 TB plan shape — the histogram-cutoff algorithm, NOT a global
    sort: (1) one feature pass buckets every document's quality into
    integer ppm; (2) a per-bucket token histogram (tiny: <= 1e6 rows
    whatever the corpus size) is cumulated highest-quality-first to
    find the cutoff bucket; (3) documents in buckets strictly inside
    the budget are kept by a broadcast-semi-join filter (map-side);
    (4) only the ONE boundary bucket pays an ordered per-document
    cumulative scan (doc_id ascending — deterministic), taking docs
    until the budget is exact. The only full-corpus shuffle is the
    bucket histogram's map-side-combined aggregate.

    All arithmetic after the quality double is integer: the bucket id
    is floor(quality*1e6) (identical doubles -> identical buckets; the
    funnel oracle already pins quality's cross-engine bit-equality),
    token sums are BIGINT, and the budget compare is
    ``DEN * cum <= NUM * total``.
    """
    feats = _features(spark, sf_dir).select(
        "doc_id", F.floor(F.col("quality") * QB_SCALE).cast("bigint").alias("qb"),
        "bpe_tokens",
    )
    selected = budget_select_docs(feats)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        selected.join(docs, "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("bpe_tokens").alias("n_tokens"))
    )


def budget_select_docs(feats: DataFrame) -> DataFrame:
    """The histogram-cutoff selection stage over any (doc_id, qb,
    bpe_tokens) frame -> selected (doc_id, bpe_tokens) — factored so
    a scale A/B can drive it against a naive global-window twin on
    synthetic frames (measured in round 6, git history)."""
    feats = feats.persist()
    buckets = feats.groupBy("qb").agg(
        F.sum("bpe_tokens").alias("bt"), F.count("*").alias("nd")
    )
    tot = buckets.agg(F.sum("bt").alias("total"))
    w = Window.orderBy(F.desc("qb")).rowsBetween(Window.unboundedPreceding, 0)
    bk = (
        buckets.join(F.broadcast(tot))
        .withColumn("cum", F.sum("bt").over(w))
        .withColumn("cum_before", F.col("cum") - F.col("bt"))
    )
    in_budget = F.col("cum") * BUDGET_DEN <= F.col("total") * BUDGET_NUM
    before_budget = F.col("cum_before") * BUDGET_DEN <= F.col("total") * BUDGET_NUM
    full = bk.filter(in_budget).select("qb")
    boundary = bk.filter(~in_budget & before_budget).select(
        "qb", "cum_before", "total"
    )
    full_docs = feats.join(F.broadcast(full), "qb").select("doc_id", "bpe_tokens")
    wd = Window.partitionBy("qb").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    boundary_docs = (
        feats.join(F.broadcast(boundary), "qb")
        .withColumn("cumd", F.sum("bpe_tokens").over(wd))
        .filter(
            (F.col("cum_before") + F.col("cumd")) * BUDGET_DEN
            <= F.col("total") * BUDGET_NUM
        )
        .select("doc_id", "bpe_tokens")
    )
    return full_docs.unionByName(boundary_docs)


def budget_select_sql(src: str) -> str:
    """CTE chain ending in ``sel(doc_id, bpe_tokens)`` — the SQL twin
    of :func:`budget_select_docs` over any CTE ``src`` providing
    (doc_id, qb, bpe_tokens). Shared by the token-budget oracle and
    the dataset-build composition oracle."""
    return f"""buckets AS (
  SELECT qb, CAST(sum(bpe_tokens) AS BIGINT) AS bt FROM {src} GROUP BY qb
),
tot AS (SELECT CAST(sum(bt) AS BIGINT) AS total FROM buckets),
bk AS (
  SELECT qb, bt, total,
         CAST(sum(bt) OVER (ORDER BY qb DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM buckets CROSS JOIN tot
),
bk2 AS (SELECT *, cum - bt AS cum_before FROM bk),
full_docs AS (
  SELECT {src}.doc_id, {src}.bpe_tokens
  FROM {src} JOIN bk2 ON {src}.qb = bk2.qb
  WHERE bk2.cum * {BUDGET_DEN} <= bk2.total * {BUDGET_NUM}
),
boundary_docs AS (
  SELECT doc_id, bpe_tokens FROM (
    SELECT {src}.doc_id, {src}.bpe_tokens, bk2.cum_before, bk2.total,
           CAST(sum({src}.bpe_tokens) OVER (PARTITION BY {src}.qb ORDER BY {src}.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumd
    FROM {src} JOIN bk2 ON {src}.qb = bk2.qb
    WHERE NOT (bk2.cum * {BUDGET_DEN} <= bk2.total * {BUDGET_NUM})
      AND bk2.cum_before * {BUDGET_DEN} <= bk2.total * {BUDGET_NUM}
  ) WHERE (cum_before + cumd) * {BUDGET_DEN} <= total * {BUDGET_NUM}
),
sel AS (SELECT * FROM full_docs UNION ALL SELECT * FROM boundary_docs)"""


TOKEN_BUDGET_SELECT_ORACLE = f"""
WITH {features_sql()},
fq AS (
  SELECT doc_id, CAST(floor(quality * {QB_SCALE}) AS BIGINT) AS qb, bpe_tokens
  FROM feats
),
{budget_select_sql("fq")}
SELECT d.source, count(*) AS n_docs, CAST(sum(sel.bpe_tokens) AS BIGINT) AS n_tokens
FROM sel JOIN documents d ON sel.doc_id = d.doc_id
GROUP BY d.source
"""

# ---------------------------------------------- events value outliers


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outliers: (event_id, event_type, value)
    for every event with (x - mean)^2 > 9 * variance of its type.

    Portability: the test is cross-multiplied to integers —
    x is scaled to exact micro-units (BIGINT), per-type S = sum(x),
    SS = sum(x^2) (decimal(38,0): SS can exceed BIGINT), and the
    condition becomes (n*x - S)^2 > 9*(n*SS - S^2). No division, no
    sqrt, no float accumulation. All cross-multiplies run in
    decimal(38,0) end-to-end (round-7 advisor fix: the old BIGINT
    n*x could wrap silently at large n*|x|), so both engines agree
    on every boundary event while every intermediate fits 38 digits
    — exact while n * max|x6| < 5e18 per type (e.g. 5e12 events of
    magnitude <= 1e6). Beyond that the engine fails LOUDLY instead
    of silently dropping rows, mirroring DuckDB's HUGEINT overflow
    error at ~1.7e38: under the session default (ANSI on) the
    decimal multiply raises NUMERIC_VALUE_OUT_OF_RANGE itself; for
    ANSI-off sessions the explicit assert_true guard below converts
    the overflow NULLs into an error.

    Plan: one map-side-combined aggregate to 5 stat rows, broadcast
    back onto the scan, map-only filter — two passes over the fact,
    zero fact shuffles. At 100 TB the stats side is bytes; the filter
    is embarrassingly parallel.
    """
    ev = load_table(spark, sf_dir, "events")
    x6 = (F.col("value").cast("decimal(18,6)") * 1_000_000).cast("bigint")
    e = ev.select("event_id", "event_type", "value", x6.alias("x6"))
    xd = F.col("x6").cast("decimal(19,0)")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x6").alias("s"),
        F.sum(xd * xd).alias("ss"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sd = F.col("s").cast("decimal(38,0)")
    lhs_root = nd * F.col("x6").cast("decimal(38,0)") - sd
    lhs = lhs_root * lhs_root
    rhs = (nd * F.col("ss").cast("decimal(38,0)") - sd * sd) * 9
    overflow = F.col("x6").isNotNull() & (lhs.isNull() | rhs.isNull())
    cond = F.when(
        overflow,
        F.assert_true(
            F.lit(False),
            F.lit(
                "events_value_outliers: z-test intermediate exceeded "
                "decimal(38,0) — n * max|x6| past the documented 5e18 "
                "exactness bound"
            ),
        ).isNotNull(),
    ).otherwise(lhs > rhs)
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(cond)
        .select("event_id", "event_type", "value")
    )


EVENTS_VALUE_OUTLIERS_ORACLE = """
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
  FROM events
),
stats AS (
  SELECT event_type, count(*) AS n, sum(x6) AS s,
         sum(CAST(x6 AS HUGEINT) * x6) AS ss
  FROM e GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM e JOIN stats USING (event_type)
WHERE CAST(stats.n * e.x6 - stats.s AS HUGEINT)
      * CAST(stats.n * e.x6 - stats.s AS HUGEINT)
    > 9 * (CAST(stats.n AS HUGEINT) * stats.ss
           - CAST(stats.s AS HUGEINT) * CAST(stats.s AS HUGEINT))
"""

# -------------------------------------------------- typo pair mining

TYPO_MIN_LEN = 4  # 1-edit neighbors of very short words are real words


def word_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pairs within edit distance 1 — typo/variant mining
    for corpus normalization (map rare misspellings onto their
    frequent form), found WITHOUT an all-pairs scan.

    Blocking is the FastSS deletion neighborhood (Bocek et al. 2007):
    two words are within one edit iff they share a key in
    {word} ∪ {word minus one char} — substitutions meet at the common
    deletion, insertions/deletions meet at the shorter word itself.
    Candidate fan-out is |word|+1 keys per word (vs |vocab|² pairs);
    the shared-key equi-join then verifies with a real levenshtein
    (both engines' built-in) to kill collision false positives like
    ab/ba. Corpus frequencies ride along so the downstream fix knows
    which spelling wins.

    Scale: everything is vocab-sized (words, not documents). The key
    join is the only shuffle; at web-corpus vocabularies (~1e8 words)
    keys still bucket finely because the key space is nearly as large
    as the vocabulary — no df-cap needed, unlike content shingles.

    The driver corpus's 31-word synthetic vocabulary contains no
    1-edit pairs, so the registered query returns (correctly) zero
    rows there — the cross-engine hash check still pins the whole
    pipeline, and tests/test_curation_ext.py proves the machinery on
    typo-seeded corpora against a brute-force levenshtein join.
    """
    docs = load_table(spark, sf_dir, "documents")
    return word_typo_pairs_from(docs)


def word_typo_pairs_from(docs: DataFrame) -> DataFrame:
    """Library-level body over any (text) frame."""
    vocab = (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.length("word") >= TYPO_MIN_LEN)
    )
    keys = F.array_union(
        F.array(F.col("word")),
        F.expr(
            "transform(sequence(1, length(word)), "
            "i -> concat(substring(word, 1, i-1), "
            "substring(word, i+1, length(word))))"
        ),
    )
    kv = vocab.select("word", "cnt", F.explode(keys).alias("k"))
    a = kv.select(
        F.col("k"), F.col("word").alias("word_a"), F.col("cnt").alias("cnt_a")
    )
    b = kv.select(
        F.col("k"), F.col("word").alias("word_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        a.join(b, "k")
        .filter(F.col("word_a") < F.col("word_b"))
        .filter(F.levenshtein("word_a", "word_b") <= 1)
        .select("word_a", "word_b", "cnt_a", "cnt_b")
        .distinct()
    )


WORD_TYPO_PAIRS_ORACLE = f"""
WITH vocab AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest({_TOK}) AS word FROM documents)
  GROUP BY word
  HAVING length(word) >= {TYPO_MIN_LEN}
),
kv AS (
  SELECT word, cnt,
         substr(word, 1, j - 1) || substr(word, j + 1, length(word)) AS k
  FROM vocab, unnest(generate_series(1, length(word))) AS t(j)
  UNION
  SELECT word, cnt, word AS k FROM vocab
)
SELECT DISTINCT a.word AS word_a, b.word AS word_b,
       a.cnt AS cnt_a, b.cnt AS cnt_b
FROM kv a JOIN kv b ON a.k = b.k AND a.word < b.word
WHERE levenshtein(a.word, b.word) <= 1
"""

# ------------------------------------------- dataset build composition


def dataset_build_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembly funnel — the round-6 capstone composition, pairing
    ``pipeline.corpus_clean_funnel`` (cleaning) with the stages a
    pipeline runs to turn a cleaned corpus into a TRAINING SET:

      0_all          every document
      1_quality      quality >= QUALITY_MIN (same gate as the funnel)
      2_exact_dedup  keep the lowest-id copy per content hash
      3_budget       highest-quality docs fitting BUDGET_NUM/DEN of
                     the DEDUPED pool's tokens (budget_select_docs —
                     histogram cutoff, no global sort)
      4_train        the deterministic train split of the selection

    Output: (stage, n_docs, n_bpe_tokens) per stage. One feature pass
    feeds every stage (persisted projection); each stage adds one
    bounded shuffle (hash-agg or vocab-size join) — composing the
    operators does not multiply corpus scans.
    """
    feats = _features(spark, sf_dir).select(
        "doc_id",
        "quality",
        F.floor(F.col("quality") * QB_SCALE).cast("bigint").alias("qb"),
        "bpe_tokens",
        "content_hash",
    ).persist()
    from .pipeline import QUALITY_MIN

    s1 = feats.filter(F.col("quality") >= QUALITY_MIN)
    keep = s1.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    s2 = s1.join(keep.select("doc_id"), "doc_id")
    s3 = budget_select_docs(s2.select("doc_id", "qb", "bpe_tokens"))
    s4 = s3.filter(_split_bucket(F.col("doc_id")) < TRAIN_PCT)

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("bpe_tokens").alias("n_bpe_tokens"),
        )

    return (
        stage(feats, "0_all")
        .unionByName(stage(s1, "1_quality"))
        .unionByName(stage(s2, "2_exact_dedup"))
        .unionByName(stage(s3, "3_budget"))
        .unionByName(stage(s4, "4_train"))
    )


from .pipeline import QUALITY_MIN as _QMIN  # noqa: E402

DATASET_BUILD_AUDIT_ORACLE = f"""
WITH {features_sql()},
s1 AS (SELECT * FROM feats WHERE quality >= {_QMIN}),
s2 AS (
  SELECT * FROM s1
  WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY content_hash)
),
fq AS (
  SELECT doc_id, CAST(floor(quality * {QB_SCALE}) AS BIGINT) AS qb, bpe_tokens
  FROM s2
),
{budget_select_sql("fq")},
s4 AS (
  SELECT * FROM sel
  WHERE CAST(CAST(concat('0x', substr(md5(concat('{SPLIT_SEED}', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS BIGINT) < {TRAIN_PCT}
)
SELECT '0_all' AS stage, count(*) AS n_docs, CAST(sum(bpe_tokens) AS BIGINT) AS n_bpe_tokens FROM feats
UNION ALL
SELECT '1_quality', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s1
UNION ALL
SELECT '2_exact_dedup', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s2
UNION ALL
SELECT '3_budget', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM sel
UNION ALL
SELECT '4_train', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s4
"""


# ---------------------------------------- robust (median/MAD) outliers

# 3 * 1.4826 (the normal-consistency constant sigma ~= 1.4826 * MAD)
# as an exact integer cross-multiply: dev * 10000 > 44478 * mad.
MAD_NUM = 44478
MAD_DEN = 10_000


def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outliers: events with |x - median| > 3 * 1.4826
    * MAD — the median/MAD counterpart to ``events_value_outliers``'s
    mean/variance z-test. Robust scale estimation is the standard
    guard when the outliers themselves corrupt the mean and variance
    (a single 1e9 spike inflates sigma enough to hide every other
    anomaly; the median and MAD don't move).

    Exactness: values scale to micro-unit BIGINTs; the median and MAD
    are exact ORDER STATISTICS at rank (n+1) div 2 under the
    deterministic (value, event_id) / (deviation, event_id) orders
    (the lower median — identical row in both engines, no
    interpolated floats), and the test cross-multiplies to integers
    (dev * 10000 > 44478 * mad) carried in decimal(38,0) on the Spark
    side and HUGEINT in DuckDB — max magnitude 4.4e22 fits both with
    headroom across the ENTIRE representable x6 domain (|x6| <= 1e18),
    so every boundary row agrees across engines with no overflow
    regime at all (review r7: the plain-BIGINT form could wrap at
    dev > ~2.1e14). Degenerate MAD = 0 (over half the type's values equal
    its median) flags every deviating row — the documented MAD
    edge case, identical in both engines.

    Plan: two per-type rank windows (values, then deviations) with
    singleton-rank picks broadcast back, then a map-only filter — the
    fact shuffles only for the two sorts. At 100 TB the exact-rank
    windows would yield to approx_percentile boundaries (same
    downstream plan), as documented for events_winsorized_stats.
    """
    ev = load_table(spark, sf_dir, "events")
    x6 = (F.col("value").cast("decimal(18,6)") * 1_000_000).cast("bigint")
    e = ev.select("event_id", "event_type", "value", x6.alias("x6"))
    n = e.groupBy("event_type").agg(F.count("*").alias("n"))
    w1 = Window.partitionBy("event_type").orderBy("x6", "event_id")
    r1 = e.select("event_type", "x6", F.row_number().over(w1).alias("rn"))
    med = (
        r1.join(F.broadcast(n), "event_type")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("x6").alias("med"))
    )
    d = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("x6") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    r2 = d.select("event_type", "event_id", "dev").select(
        "event_type", "dev", F.row_number().over(w2).alias("rn")
    )
    mad = (
        r2.join(F.broadcast(n), "event_type")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad"))
    )
    devd = F.col("dev").cast("decimal(38,0)")
    madd = F.col("mad").cast("decimal(38,0)")
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(devd * MAD_DEN > madd * MAD_NUM)
        .select("event_id", "event_type", "value")
    )


EVENTS_VALUE_MAD_OUTLIERS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
  FROM events
),
n AS (SELECT event_type, count(*) AS n FROM e GROUP BY event_type),
r1 AS (
  SELECT event_type, x6,
         row_number() OVER (PARTITION BY event_type ORDER BY x6, event_id) AS rn
  FROM e
),
med AS (
  SELECT r1.event_type, r1.x6 AS med
  FROM r1 JOIN n USING (event_type) WHERE rn = (n + 1) // 2
),
d AS (
  SELECT e.event_id, e.event_type, e.value, abs(e.x6 - med.med) AS dev
  FROM e JOIN med USING (event_type)
),
r2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn
  FROM d
),
mad AS (
  SELECT r2.event_type, r2.dev AS mad
  FROM r2 JOIN n USING (event_type) WHERE rn = (n + 1) // 2
)
SELECT d.event_id, d.event_type, d.value
FROM d JOIN mad USING (event_type)
WHERE CAST(d.dev AS HUGEINT) * {MAD_DEN} > {MAD_NUM} * CAST(mad.mad AS HUGEINT)
"""


def dataset_publish_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISH step a dataset build actually ends with: write the
    split corpus to partitioned parquet (``partitionBy(split,
    source)`` — the standard low-cardinality publish layout) and read
    it BACK to produce the shipping manifest. Because the manifest is
    computed from the READ-BACK files while the oracle recomputes it
    from the source table directly, any row lost, duplicated, or
    mangled by the write→read roundtrip surfaces as a driver hash
    mismatch — storage-level end-to-end verification, the same
    pattern as the stored tokenizer/PQ/fingerprint cycles.

    Output: (split, source, n_docs, sum_chars, content_checksum).
    ``content_checksum`` is an order-insensitive ``bit_xor`` of a
    60-bit md5-derived hash of each (doc_id, text) pair — covers
    every document's identity AND body without any corpus-sized sort
    or concat (manifest stays exact at any scale; both engines
    compute the identical integers).

    Scratch: per-application overwrite-in-place
    (``sources.tables._artifact_dir``), rewritten every call.
    """
    from ..sources.tables import _artifact_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    b = _split_bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    d = _artifact_dir(spark, sf_dir, "published_dataset")
    docs.withColumn("split", split).write.mode("overwrite").partitionBy(
        "split", "source"
    ).parquet(d)
    back = spark.read.parquet(d)
    doc_hash = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        back.groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.bit_xor(doc_hash).alias("content_checksum"),
        )
    )


DATASET_PUBLISH_MANIFEST_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text, source, n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('{SPLIT_SEED}', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS BIGINT) AS bk
  FROM documents
)
SELECT CASE WHEN bk < {TRAIN_PCT} THEN 'train'
            WHEN bk < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       bit_xor(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', text)), 1, 15)) AS BIGINT)) AS content_checksum
FROM b
GROUP BY 1, 2
"""


# ---------------------------------------------- corpus snapshot diff
# r16 library surface (queue r19): recrawl delta attribution. A
# production corpus is re-snapshotted continuously (crawl N vs crawl
# N+1), and every downstream artifact (dedup indexes, LM counts, PQ
# codes) wants the DELTA, not a full rebuild — the first question is
# "which docs were added / removed / changed?". The reference engine
# has no notion of dataset versions at all (SURVEY.md §2.4).
#
# Deterministic snapshot derivation (portable integer arithmetic, the
# dataset_split convention): OLD = doc_id % 7 != 2, NEW = doc_id % 5
# != 3, and NEW's text is rotated by 11 chars for doc_id % 3 == 0 —
# so the diff sees all three statuses plus a silent fourth: a % 3
# doc whose text is <= 11 chars rotates to itself and must NOT be
# reported as changed (status derives from the content hash, never
# from the perturbation rule).
SNAP_OLD_MOD, SNAP_OLD_RESIDUE = 7, 2
SNAP_NEW_MOD, SNAP_NEW_RESIDUE = 5, 3
SNAP_CHANGE_MOD = 3
SNAP_ROT = 11  # rotation offset, chars


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(doc_id, status) for every doc that differs between two corpus
    snapshots, each given as (doc_id, h) with h = a content hash:
    'added' (new only), 'removed' (old only), 'changed' (both, hash
    differs). Unchanged docs — the bulk of any recrawl — are filtered
    out, so the output is O(churn), not O(corpus).

    Contract: ``h`` must be NON-NULL on both sides (presence is
    detected via h's nullability after the full outer join, so a NULL
    hash would read as absence). :func:`_snapshot_frames` guarantees
    this by hashing ``coalesce(text, '')``; any other caller must
    supply a total hash the same way.

    Plan shape: ONE full-outer equi-join on doc_id. Keys are unique
    per side, so there is no skew to salt; at 100 TB both snapshots
    stored bucketed by doc_id make this a zero-shuffle co-located
    sort-merge join, and Catalyst pushes the doc_id/hash projection
    into both scans (nothing but 2 columns per side ever moves)."""
    j = old.alias("o").join(new.alias("n"), "doc_id", "full_outer")
    status = (
        F.when(F.col("o.h").isNull(), F.lit("added"))
        .when(F.col("n.h").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return j.filter(
        F.col("o.h").isNull()
        | F.col("n.h").isNull()
        | (F.col("o.h") != F.col("n.h"))
    ).select("doc_id", status.alias("status"))


def _rotated_text() -> F.Column:
    """text rotated left by SNAP_ROT chars — the same perturbation
    family the scale probes use to make distinct corpus copies;
    substring past the end is '' in both engines, so a short text
    rotates to itself (and correctly reads as unchanged)."""
    return F.concat(
        F.expr(f"substring(text, {SNAP_ROT + 1})"),
        F.expr(f"substring(text, 1, {SNAP_ROT})"),
    )


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: diff the two deterministic snapshots of the
    documents table (see the section comment for the derivation) via
    :func:`snapshot_diff`. Output (doc_id, status), one row per
    added/removed/changed doc. Snapshot derivation shared with the
    delta-refresh cycle via :func:`_snapshot_frames`."""
    docs = load_table(spark, sf_dir, "documents")
    _, _, old_h, new_h = _snapshot_frames(docs)
    return snapshot_diff(old_h, new_h)


CORPUS_SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS h
  FROM documents WHERE doc_id % {SNAP_OLD_MOD} != {SNAP_OLD_RESIDUE}
),
new AS (
  SELECT doc_id,
         md5(COALESCE(CASE WHEN doc_id % {SNAP_CHANGE_MOD} = 0
                  THEN concat(substr(text, {SNAP_ROT + 1}), substr(text, 1, {SNAP_ROT}))
                  ELSE text END, '')) AS h
  FROM documents WHERE doc_id % {SNAP_NEW_MOD} != {SNAP_NEW_RESIDUE}
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.h IS NULL OR n.h IS NULL OR o.h != n.h
"""


def _snapshot_frames(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(old_docs, new_docs, old_hashed, new_hashed) — the deterministic
    snapshot pair (section comment above) as both text frames and
    (doc_id, h) content-hash frames, shared by the diff query and the
    delta-refresh cycle so the two derivations cannot drift."""
    old_docs = docs.filter(
        F.col("doc_id") % SNAP_OLD_MOD != SNAP_OLD_RESIDUE
    ).select("doc_id", "text")
    new_text = F.when(
        F.col("doc_id") % SNAP_CHANGE_MOD == 0, _rotated_text()
    ).otherwise(F.col("text"))
    new_docs = docs.filter(
        F.col("doc_id") % SNAP_NEW_MOD != SNAP_NEW_RESIDUE
    ).select("doc_id", new_text.alias("text"))
    # Total content hash: coalesce to '' so h is never NULL — the
    # batch/streaming diff paths then agree by construction on a
    # NULL-text doc (batch would otherwise read a NULL new-hash as
    # 'removed' while the streaming filter's three-valued != drops
    # the row; r16 advisor). The SQL oracles coalesce identically.
    old_h = old_docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("h")
    )
    new_h = new_docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("h")
    )
    return old_docs, new_docs, old_h, new_h


def winnow_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r16 library surface, queue r19): the stored
    fingerprint index maintained by SNAPSHOT DELTA instead of full
    rebuild — the operation :func:`corpus_snapshot_diff` exists to
    drive. A recrawl lands as the NEW snapshot; rather than
    re-fingerprinting the whole corpus, the refresh (a) drops the
    index rows of removed/changed docs (anti-join row deletion, the
    winnow_retract_index shape — the artifact is row-keyed per doc),
    (b) fingerprints ONLY the added/changed docs against their NEW
    text (the only extraction work, O(churn) — at a 100 TB corpus
    with a 2 % daily churn this is the difference between a 2 TB and
    a 100 TB tokenize pass), and (c) unions and ships the refreshed
    index, then serves decontamination from it.

    refresh(index(old), diff) == index(new) holds bit-for-bit because
    fingerprint extraction is deterministic per (doc_id, text) and
    unchanged docs have unchanged text by definition of the
    content-hash diff; pinned frame-for-frame by pytest and
    hash-gated by the oracle, which re-derives decontamination from
    the NEW snapshot corpus — the winnow_index_retract proof pattern
    applied to the full add/remove/change lifecycle."""
    from ..sources.tables import _artifact_dir
    from .winnow import (
        decontaminate_from_index,
        winnow_fingerprints_chunked_from,
    )

    docs = load_table(spark, sf_dir, "documents")
    old_docs, new_docs, old_h, new_h = _snapshot_frames(docs)
    d_old = _artifact_dir(spark, sf_dir, "winnow_snap_old")
    d_new = _artifact_dir(spark, sf_dir, "winnow_snap_new")
    # the pre-existing artifact: the OLD snapshot's stored index (in
    # production this parquet is already on disk from the last cycle)
    winnow_fingerprints_chunked_from(old_docs).write.mode(
        "overwrite"
    ).parquet(f"{d_old}/fingerprints")
    diff = snapshot_diff(old_h, new_h)
    # (a) row deletion: removed + changed docs leave the index. The
    # churn set is corpus-proportional in this demo derivation (~2/5
    # of docs), so no forced broadcast — AQE broadcasts a genuinely
    # small daily delta at runtime (the dedup_incremental precedent).
    kept = (
        spark.read.parquet(f"{d_old}/fingerprints")
        .join(
            diff.filter(F.col("status") != "added").select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    # (b) O(churn) extraction: added + changed docs, NEW text only
    fresh = winnow_fingerprints_chunked_from(
        new_docs.join(
            diff.filter(F.col("status") != "removed").select("doc_id"),
            "doc_id",
        )
    )
    kept.unionByName(fresh).write.mode("overwrite").parquet(
        f"{d_new}/fingerprints"
    )
    return decontaminate_from_index(spark, d_new)


# ---------------------- merge-on-read refresh (r17, r16 verdict #2)
# The eager refresh above is O(churn) in EXTRACTION but corpus-sized
# in the WRITE: kept + fresh is a full index rewrite every cycle
# (R16_SNAPSHOT_PROBE measured refresh at 0.34-0.67x rebuild instead
# of ~churn-fraction for exactly this reason). The merge-on-read
# layout makes maintenance O(churn) end-to-end: a refresh ships only
# (a) TOMBSTONES — the removed/changed doc_ids, churn-sized — and
# (b) DELTA fingerprint rows for added/changed docs, churn-sized;
# the base index is never rewritten. Readers reconcile at scan time
# (base ANTI-JOIN tombstones UNION delta), and a periodic COMPACTION
# folds the layers back into a clean base — the Iceberg/Delta
# position-delete shape, and this repo's rollup-store + compaction
# precedent (events.py) applied to the fingerprint artifact. At
# 100 TB with 2 % daily churn the refresh writes ~2 TB instead of
# ~100 TB; the serve-side anti-join stays cheap because tombstones
# are churn-sized (AQE broadcasts a genuinely small daily delta),
# and compaction amortizes the read-side layering on whatever cadence
# the pipeline chooses.


def winnow_refresh_write_delta(
    spark: SparkSession,
    delta_dir: str,
    diff: DataFrame,
    new_docs: DataFrame,
) -> None:
    """O(churn) WRITE side of a fingerprint-index refresh: persist
    the tombstone doc_ids (removed + changed) and the freshly
    extracted fingerprint rows (added + changed, NEW text) — nothing
    corpus-sized is written or rewritten. ``diff`` is
    :func:`snapshot_diff` output; ``new_docs`` the NEW snapshot's
    (doc_id, text)."""
    from .winnow import winnow_fingerprints_chunked_from

    diff.filter(F.col("status") != "added").select("doc_id").write.mode(
        "overwrite"
    ).parquet(f"{delta_dir}/tombstones")
    winnow_fingerprints_chunked_from(
        new_docs.join(
            diff.filter(F.col("status") != "removed").select("doc_id"),
            "doc_id",
        )
    ).write.mode("overwrite").parquet(f"{delta_dir}/delta_fingerprints")


def winnow_read_index_mor(
    spark: SparkSession, base_index_dir: str, delta_dir: str
) -> DataFrame:
    """Scan-time reconciliation of a merge-on-read fingerprint index:
    base rows minus tombstoned docs, plus the delta layer. Row-set
    identical to the eagerly refreshed index (a 'changed' doc is both
    tombstoned out of the base and re-extracted into the delta, so no
    doc contributes from two layers; pinned by pytest frame
    equality). Tombstones are churn-sized — AQE broadcasts the
    anti-join side when a real daily delta is small."""
    base = spark.read.parquet(f"{base_index_dir}/fingerprints")
    tomb = spark.read.parquet(f"{delta_dir}/tombstones")
    delta = spark.read.parquet(f"{delta_dir}/delta_fingerprints")
    return base.join(tomb, "doc_id", "left_anti").unionByName(delta)


def winnow_compact_index(
    spark: SparkSession, base_index_dir: str, delta_dir: str, out_dir: str
) -> None:
    """Fold a merge-on-read index back into a clean single-layer base
    (the corpus-sized write, paid on the COMPACTION cadence instead
    of every refresh). compact(base, delta) == eager refresh by
    construction — both materialize :func:`winnow_read_index_mor`'s
    row set."""
    winnow_read_index_mor(spark, base_index_dir, delta_dir).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/fingerprints")


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """FS-agnostic existence probe via the Hadoop FileSystem API —
    correct on local disk and on a real cluster's shared store alike
    (an os.path check would silently lie off the driver's disk)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def winnow_index_refresh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin of :func:`winnow_index_refresh` following the
    family's ``*_stored`` convention (r16 verdict #3 + advisor): the
    OLD snapshot's fingerprint index is a PRE-SHIPPED artifact —
    built once per (application, corpus) and reused, not rebuilt
    inside every call — so the measured cost of this query is what
    the operator means: O(churn) maintenance (tombstones + delta
    write, merge-on-read) plus the serve. The self-contained sibling
    keeps rebuilding its precondition every call for a fully
    self-checking oracle run; this twin is the production shape.

    Build-if-absent is staleness-safe here, unlike for mutable
    scratch: the artifact dir is keyed by (applicationId, corpus
    token) — see ``sources.tables._artifact_dir`` — and the OLD-snapshot
    index is a pure deterministic function of the immutable corpus
    parquet, so within an application the path either holds exactly
    the right artifact or nothing.

    Output is bit-identical to :func:`winnow_index_refresh` (same
    diff, same extraction, merge-on-read instead of eager
    materialization — pinned by pytest), so
    WINNOW_INDEX_REFRESH_ORACLE gates both paths."""
    from ..sources.tables import _artifact_dir
    from .winnow import (
        CONTAM_MIN_SHARED,
        _decontaminate_from_fps,
        winnow_fingerprints_chunked_from,
    )

    docs = load_table(spark, sf_dir, "documents")
    old_docs, new_docs, old_h, new_h = _snapshot_frames(docs)
    d_base = _artifact_dir(spark, sf_dir, "winnow_snap_base")
    if not _hadoop_path_exists(spark, f"{d_base}/fingerprints"):
        winnow_fingerprints_chunked_from(old_docs).write.mode(
            "overwrite"
        ).parquet(f"{d_base}/fingerprints")
    d_delta = _artifact_dir(spark, sf_dir, "winnow_snap_delta")
    winnow_refresh_write_delta(
        spark, d_delta, snapshot_diff(old_h, new_h), new_docs
    )
    fps = (
        winnow_read_index_mor(spark, d_base, d_delta)
        .select("doc_id", "fp_hash")
        .distinct()
        .persist()
    )
    return _decontaminate_from_fps(fps, CONTAM_MIN_SHARED)


# The oracle re-derives decontamination from the NEW snapshot corpus
# from scratch (rebuild == refresh is the claim under test). The
# chunked-winnowing CTE is reused verbatim with its corpus source
# swapped to the snapshot subquery — _chunked_fp_cte reads FROM
# documents exactly once (norm_c), so the textual substitution is
# well-defined; a drift in that invariant breaks this oracle loudly
# (substitution would miss and DuckDB would read the raw table).
def _refresh_oracle() -> str:
    from .winnow import CONTAM_MIN_SHARED, EVAL_MOD, EVAL_RESIDUE, _chunked_fp_cte

    cte = _chunked_fp_cte()
    assert cte.count("FROM documents") == 1
    cte = cte.replace("FROM documents", "FROM documents_new")
    return f"""
WITH documents_new AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SNAP_CHANGE_MOD} = 0
              THEN concat(substr(text, {SNAP_ROT + 1}), substr(text, 1, {SNAP_ROT}))
              ELSE text END AS text
  FROM documents WHERE doc_id % {SNAP_NEW_MOD} != {SNAP_NEW_RESIDUE}
),
{cte},
dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp_c),
eval_fps AS (
  SELECT DISTINCT fp_hash FROM dfp WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
)
SELECT d.doc_id, count(*) AS shared_fps
FROM dfp d JOIN eval_fps e ON d.fp_hash = e.fp_hash
WHERE d.doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
GROUP BY d.doc_id
HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


WINNOW_INDEX_REFRESH_ORACLE = _refresh_oracle()
# The stored twin's output is bit-identical (same diff + extraction,
# merge-on-read materialization) — ONE oracle derivation gates both
# paths, the decontaminate_stored / pq_search_stored convention.
WINNOW_INDEX_REFRESH_STORED_ORACLE = WINNOW_INDEX_REFRESH_ORACLE


def snapshot_write_hashes(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Materialize the OLD snapshot's (doc_id, h) content-hash
    registry to parquet — the static side the streaming recrawl diff
    joins against (the ship-once artifact: the previous snapshot's
    hashes are already on disk when the new crawl starts arriving)."""
    docs = load_table(spark, sf_dir, "documents")
    _, _, old_h, _ = _snapshot_frames(docs)
    old_h.write.mode("overwrite").parquet(f"{index_dir}/snapshot_hashes")
