"""Deduplication operator family (SURVEY.md §2.3 Q6 + north-star ops).

Q6 in the reference is just a per-document ``seen`` set
(mr/examples/inverted_index/mapper.py:34-37); the scale-path operators
here are what a 100 TB training-data pipeline needs:

- exact dedup: hash-groupBy on normalized text (one shuffle keyed by
  a fingerprint, never by the full document).
- minhash LSH near-dup: shingle -> minhash signature -> band buckets
  -> candidate pairs via equi-join on (band, bucket-hash) -> verified
  Jaccard. All shuffles are keyed by small hashes; the candidate join
  is an equi-join AQE can re-plan, never a cross join.
- n-gram Jaccard near-dup: exact verification path (inverted index on
  shingles -> pair counts -> Jaccard), SQL-expressible -> full oracle.

Determinism: every hash is md5-derived (stable across engines/runs);
the reference's nondeterministic builtin-hash partitioning bug
(mr/worker/worker.py:108) is deliberately not replicated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, shingles_sql, tokens_col


def _doc_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc.

    Two-projection shape on purpose: the token array materializes once
    per row as a plain attribute (CollapseProject keeps non-cheap
    multiply-referenced aliases in their own projection), so the
    shingle builder's element_at calls are O(1) lookups instead of
    re-running the tokenizer — this was a 50x wall-clock difference at
    sf0.1.
    """
    return (
        docs.select("doc_id", tokens_col("text").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("toks"), n))
            ).alias("shingle"),
        )
    )
from ..sources.tables import load_table

# ---------------------------------------------------------------- exact


def _norm_text(c: Column) -> Column:
    # normalization: lowercase + collapse whitespace (classic exact-dedup key)
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One surviving doc_id (the smallest) per normalized-text group.

    Output: (doc_id, text_md5, n_dupes). min/count aggregate on a
    16-byte key — shuffle volume is O(distinct docs), not O(bytes).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id"), F.md5(_norm_text(F.col("text"))).alias("text_md5")
        )
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dupes"))
        .select("doc_id", "text_md5", "n_dupes")
    )


DEDUP_EXACT_ORACLE = """
SELECT min(doc_id) AS doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_md5,
       count(*) AS n_dupes
FROM documents
GROUP BY 2
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-selection dedup: per normalized-text group keep the
    BEST document, not the arbitrary smallest id.

    Production pipelines dedupe exact groups but choose the survivor
    by a quality key (longest/cleanest copy, best-source copy) so
    downstream training sees the richest variant. Ranking here is
    (n_chars DESC, doc_id ASC) — n_chars is the best quality proxy in
    the table schema; a real deployment swaps in the composite
    ``quality_score``. Deterministic: doc_id breaks all ties.

    Same scale shape as ``dedup_exact``: ONE hash-aggregate on the
    16-byte key carrying a struct max — no window sort, no second
    pass over the corpus (a row_number() formulation would shuffle
    the full corpus into per-group sorts; max_by folds map-side).

    Output: (kept_doc_id, text_md5, n_dupes, kept_n_chars).
    """
    docs = load_table(spark, sf_dir, "documents")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("b")
    return (
        docs.select(
            "doc_id", "n_chars", F.md5(_norm_text(F.col("text"))).alias("text_md5")
        )
        .groupBy("text_md5")
        .agg(best, F.count("*").alias("n_dupes"))
        .select(
            (-F.col("b.neg_id")).cast("bigint").alias("kept_doc_id"),
            "text_md5",
            "n_dupes",
            F.col("b.n_chars").alias("kept_n_chars"),
        )
    )


DEDUP_KEEP_BEST_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_md5
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, text_md5,
         count(*) OVER (PARTITION BY text_md5) AS n_dupes,
         row_number() OVER (PARTITION BY text_md5
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT doc_id AS kept_doc_id, text_md5, n_dupes, n_chars AS kept_n_chars
FROM ranked WHERE rn = 1
"""

# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, n: int = 5, threshold: float = 0.2,
    df_cap: int = 100,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs (doc_a < doc_b).

    Plan shape: distinct (doc, shingle_hash) -> document-frequency cap
    -> self equi-join on the hash -> per-pair intersection counts ->
    Jaccard filter. The ``df_cap`` drops shingles appearing in more
    than ``df_cap`` documents BEFORE the self-join (standard in dedup
    pipelines: boilerplate/licence-header shingles carry no near-dup
    signal but generate O(df^2) candidate pairs — the round-1 version
    had unbounded fanout on hot shingles). With the cap, per-shingle
    fanout is bounded by df_cap^2/2 regardless of corpus size, so the
    join survives a 100x scale-up; Jaccard is then computed over the
    surviving (informative) shingles only, identically in the oracle.
    Jaccard from integer counts -> exact double parity with the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # persist the raw (doc_id, shingle-hash) frame: it feeds the
    # broadcast-hot build job AND the capped frame's three consumers
    # (per-doc sizes + both sides of the self-join), and the broadcast
    # build runs as a SEPARATE job, outside ReuseExchange's reach —
    # without the persist the tokenize + shingle explode + md5 re-runs
    # per job. Cached rows are (doc_id, 32-char hash) — O(tokens),
    # spillable MEMORY_AND_DISK by default, far cheaper than
    # re-tokenizing the corpus; persisting BEFORE the df-cap keeps the
    # corpus scan to exactly one (the hot boilerplate tail it retains
    # is bounded by the same O(tokens)). Measured 4.4 -> 2.4 s at
    # sf0.1; released by the caller's clearCache between queries.
    sh = (
        _doc_shingles(docs, n)
        .select("doc_id", F.md5("shingle").alias("sh"))
        .persist()
    )
    # df-cap via hot-shingle anti-join, not a window: the window
    # formulation shuffled every (doc_id, sh) row by sh just to attach
    # a count; here the count is a partial-agg shuffle of (sh, count)
    # pairs (map-side combine collapses within-partition repeats) and
    # the main frame is filtered by a BROADCAST anti-join against the
    # hot set — which is bounded above by n_rows/df_cap keys and in
    # practice is the tiny boilerplate tail, so the doc-shingle frame
    # itself never reshuffles. Measured 21 s -> 3.8 s at sf0.1.
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("sh")
    )
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def ngram_jaccard_oracle(n: int = 5, threshold: float = 0.2, df_cap: int = 100) -> str:
    return f"""
WITH sh_all AS (
  SELECT DISTINCT doc_id, s.shingle AS shingle
  FROM documents, unnest({shingles_sql('text', n)}) AS s(shingle)
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {df_cap}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= {threshold}
"""


NGRAM_JACCARD_ORACLE = ngram_jaccard_oracle()

# ------------------------------------------------------- containment

CONTAIN_THRESHOLD = 0.5


def containment_pairs(
    spark: SparkSession, sf_dir: str, n: int = 5,
    threshold: float = CONTAIN_THRESHOLD, df_cap: int = 100,
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs — the doc-in-doc detector
    Jaccard structurally misses: a short document quoted wholesale
    inside a long one scores |A∩B|/|A∪B| ~ |A|/|B| (arbitrarily low)
    but containment |A∩B|/|A| ~ 1. Training corpora are full of this
    mode (nested quotes, syndicated excerpts, doc-in-doc scrapes), and
    the dedup decision for it is directional: cut the INNER doc, keep
    the outer — which is why the output is ordered (inner_doc,
    outer_doc), not a symmetric pair.

    Output: (inner_doc, outer_doc, n_inter, containment) where
    containment = |grams(inner) ∩ grams(outer)| / |grams(inner)| >=
    ``threshold``, both directions tested per unordered pair (a
    full mutual near-dup legitimately emits both rows).

    Plan shape: identical skeleton to :func:`ngram_jaccard_pairs`
    (one corpus scan persisted, hot-shingle broadcast anti-join
    df-cap bounding per-shingle fanout at df_cap^2/2, ONE a<b
    self-join) — the intersection counts are computed once per
    unordered pair and both directional containments derive from that
    single frame, so the asymmetric semantics cost no second join."""
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs_from(docs, n, threshold, df_cap)


def containment_pairs_from(
    docs: DataFrame, n: int = 5,
    threshold: float = CONTAIN_THRESHOLD, df_cap: int = 100,
) -> DataFrame:
    # Persist BEFORE the df-cap, exactly as in ngram_jaccard_pairs
    # (dedup.py:160): the raw frame feeds the broadcast-hot build job
    # (a SEPARATE job, outside ReuseExchange's reach) AND the capped
    # frame's three consumers (per-doc sizes + both self-join sides),
    # so this keeps the tokenize+shingle+md5 corpus scan to exactly
    # one. The rebind below makes the handle unreachable by design:
    # the cache entry is left to LRU eviction (callers consume the
    # returned lazy frame, so eager unpersist here would defeat it);
    # the caller's clearCache between queries releases it, and
    # long-lived sessions can spark.catalog.clearCache().
    sh = (
        _doc_shingles(docs, n)
        .select("doc_id", F.md5("shingle").alias("sh"))
        .persist()
    )
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("sh")
    )
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    both = inter.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("inner_doc"),
        F.col("doc_b").alias("outer_doc"),
        "n_inter",
        (F.col("n_inter").cast("double") / F.col("na").cast("double")).alias(
            "containment"
        ),
    )
    rev = both.select(
        F.col("doc_b").alias("inner_doc"),
        F.col("doc_a").alias("outer_doc"),
        "n_inter",
        (F.col("n_inter").cast("double") / F.col("nb").cast("double")).alias(
            "containment"
        ),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def containment_oracle(
    n: int = 5, threshold: float = CONTAIN_THRESHOLD, df_cap: int = 100
) -> str:
    return f"""
WITH sh_all AS (
  SELECT DISTINCT doc_id, s.shingle AS shingle
  FROM documents, unnest({shingles_sql('text', n)}) AS s(shingle)
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= {df_cap}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
both_dirs AS (
  SELECT doc_a AS inner_doc, doc_b AS outer_doc, n_inter,
         CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS containment
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
  UNION ALL
  SELECT doc_b, doc_a, n_inter,
         CAST(n_inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)
  FROM inter JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT inner_doc, outer_doc, n_inter, containment
FROM both_dirs WHERE containment >= {threshold}
"""


CONTAINMENT_ORACLE = containment_oracle()

# ----------------------------------------------------------- minhash LSH

N_HASHES = 32
N_BANDS = 8  # 4 rows/band


def minhash_signatures(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """(doc_id, sig: array<bigint>) — N_HASHES min-hashes per document.

    Plan shape (the 100 TB one): explode distinct shingles to
    (doc_id, shingle) rows — tokenization runs ONCE per document —
    then the N_HASHES family as plain ``xxhash64(i, shingle)``
    columns and a single ``groupBy(doc_id).agg(min...)``. The shuffle
    carries one row per (doc, distinct shingle) of 8-byte hashes with
    map-side partial min; no expression subtree is ever duplicated
    (the round-1 inline-per-hash formulation re-evaluated the
    tokenizer ~200x per row and stalled the suite).

    Docs with fewer than ``n`` tokens have no shingles and drop out,
    matching the reference mapper's emit-nothing behavior for short
    lines (mr/examples/inverted_index/mapper.py:27-37 analog).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs, n)
    hashed = sh.select(
        "doc_id",
        *[F.xxhash64(F.lit(i), F.col("shingle")).alias(f"h{i}") for i in range(N_HASHES)],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(N_HASHES)]
    )
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig")
    )


def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, n: int = 5, threshold: float = 0.2
) -> DataFrame:
    """LSH candidate generation + signature-Jaccard estimate.

    Bands of 4 rows hashed to a bucket key; docs sharing any
    (band, bucket) become candidates via equi-join on the bucket —
    the 100 TB-safe alternative to any pairwise scan. The signature
    frame feeds both sides of the bucket self-join and the two
    signature join-backs, and is not persisted: under AQE all four
    read its one min-agg exchange (three as ``ReusedExchange``), while
    a cached relation added a scan stage per consumer and left an
    entry to evict. Output is (doc_a, doc_b, est_jaccard) for
    candidates with estimate >= threshold; deterministic given the
    xxhash64 family.
    """
    rows_per_band = N_HASHES // N_BANDS
    sigs = minhash_signatures(spark, sf_dir, n)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pair = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a"
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b"
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(N_HASHES))
    return (
        pair.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )

# ------------------------------------------------- connected components


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): every node u connects each
    strictly-larger neighbor v to m(u) = min(N(u) ∪ {u}).

    m(u) is attached with a partition-wide window min over the SAME
    shuffle that groups u's neighborhood — one shuffle per star round
    instead of the groupBy + re-shuffled join formulation (which cost
    3 shuffles per half-round and regressed the round-3 bench 11.5x).
    """
    from pyspark.sql import Window

    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge larger→smaller, then
    every node u links all its smaller neighbors (and itself) to
    m(u) = min of that neighborhood. Same single-shuffle window shape
    as :func:`_large_star`; the self-link rows ride the same frame and
    the trailing distinct collapses their duplicates."""
    from pyspark.sql import Window

    orient = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    # all v < u, so min(N ∪ {u}) = min(v)
    withm = orient.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    relink = withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfed = withm.select("u", F.col("m").alias("v"))
    return (
        relink.unionByName(selfed).filter(F.col("u") != F.col("v")).distinct()
    )


def connected_components(edges: DataFrame, max_iter: int = 12) -> DataFrame:
    """(node, label) for every node incident to an edge; label = the
    minimum node id of its component.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round
    contracts edges toward component minima, converging in O(log d)
    rounds vs the O(d) of plain min-label propagation. The driver-side
    loop iterates ROUNDS, not rows: each half-round is one window
    shuffle + distinct, and convergence is detected with ONE scalar
    action per round — a structural star-forest test that stops the
    loop the round the fixpoint is REACHED (no confirmation round),
    backed by an order-insensitive edge-set checksum fallback.
    Every round frame is ``localCheckpoint``ed (truncates the
    iterative lineage — the classic plan-growth failure mode) and the
    previous round's blocks are released as soon as the next
    materializes. At the fixpoint the edge set is exactly the star
    (child → component-min), so labels read off with one aggregate; a
    star spans ALL nodes of its component, so the output covers every
    input node. Property-tested against a Python union-find on random
    graphs (tests/test_properties.py).

    ``edges``: DataFrame with numeric columns (u, v).
    """
    edges = edges.select("u", "v").localCheckpoint()
    prev = (None, None)
    for _ in range(max_iter):
        # eager=False: the stats action below both materializes the
        # checkpoint blocks and yields the per-round scalars — one job.
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # Two convergence tests fused into ONE action per round:
        # (a) structural star test — the Kiveris fixpoint is exactly a
        #     star forest with every edge child→center, center < child,
        #     and one center per child.  As edge-frame aggregates:
        #     every v < u  (max(v-u) < 0), one distinct v per u
        #     (count == countDistinct(u)), and no node both child and
        #     root (countDistinct(u) + countDistinct(v) ==
        #     countDistinct over the node union).  When it holds the
        #     loop stops THIS round instead of paying a full
        #     confirmation round (two window shuffles + a checkpoint)
        #     just to observe "nothing changed" — at real edge counts
        #     that is an entire O(|E|) pass saved.
        # (b) checksum compare vs the previous round as a belt-and-
        #     braces fallback: bit_xor (not sum) keeps it order-
        #     insensitive without long overflow under ANSI mode.
        stats = new_edges.agg(
            F.count("*").alias("cnt"),
            F.bit_xor(F.xxhash64("u", "v")).alias("chk"),
            F.count_distinct("u").alias("du"),
            F.count_distinct("v").alias("dv"),
            F.max(F.col("v") - F.col("u")).alias("max_vu"),
        )
        nodes = new_edges.select(F.col("u").alias("n")).unionAll(
            new_edges.select(F.col("v").alias("n"))
        )
        row = stats.crossJoin(nodes.agg(F.count_distinct("n").alias("dn"))).collect()[0]
        # release the previous round's checkpoint blocks now that the
        # new round is materialized — without this, up to max_iter
        # rounds of edge frames stay resident simultaneously
        edges.unpersist()
        edges = new_edges
        is_star = (
            row.cnt == row.du
            and row.du + row.dv == row.dn
            and (row.max_vu is None or row.max_vu < 0)
        )
        if is_star or (row.cnt, row.chk) == prev:
            break
        prev = (row.cnt, row.chk)
    # fixpoint edges are (child, root); roots carry their own id
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .select(F.col("u").alias("node"), "label")
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 12
) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified
    n-gram-Jaccard pair graph, labels = min doc_id per component.

    This is the step a dedup pipeline actually keeps: pairs say "a~b",
    clusters say "keep exactly one of {a,b,c,...}". Components come
    from :func:`connected_components`; docs in no pair skip the loop
    and become their own singleton cluster.

    Output: (doc_id, cluster, cluster_size) for EVERY document.

    The oracle reproduces the fixpoint as a DuckDB recursive CTE
    (transitive closure, then min reachable node) — same contract,
    different engine idiom, full hash_match.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # the localCheckpoint inside connected_components also materializes
    # the expensive pair generation once, truncating its lineage
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    labels = connected_components(edges, max_iter=max_iter).select(
        F.col("node").alias("doc_id"), "label"
    )
    singles = docs.join(labels, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("label")
    )
    everyone = labels.unionByName(singles)
    sizes = everyone.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return everyone.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster"), "cluster_size"
    )


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({NGRAM_JACCARD_ORACLE}) t
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
labels AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node),
sizes AS (SELECT cluster, count(*) AS cluster_size FROM labels GROUP BY cluster)
SELECT doc_id, cluster, cluster_size FROM labels JOIN sizes USING (cluster)
"""

# ------------------------------------- minhash LSH, oracle-portable


def _portable_hash(salt: str, col: Column, hex_len: int = 15) -> Column:
    """md5-derived hash of ``salt|col`` over the first ``hex_len`` hex
    digits — reproducible in ANSI SQL ('0x'||hex cast), unlike
    xxhash64."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), col)), 1, hex_len), 16, 10
    ).cast("bigint")


# Portable minhash family: Kirsch-Mitzenmacher double hashing,
# h_i = (h1 + i*h2) mod 2^60 from TWO md5 evaluations per shingle
# (60-bit h1, 52-bit h2 so h1 + 31*h2 < 2^61 — no bigint overflow in
# either engine). The round-3 family evaluated 32 independent
# md5|conv chains per doc-shingle row, which WAS the operator's cost
# at sf0.1 (~15 s of its 16.7 s total: 8M interpreted md5s); this is
# the same trick bloom_membership uses and keeps the banding
# structure identical.
_MH_MOD = 1 << 60


def dedup_minhash_portable(
    spark: SparkSession, sf_dir: str, n: int = 5, threshold: float = 0.2
) -> DataFrame:
    """MinHash LSH with a fully oracle-checkable hash family.

    Identical banding architecture to :func:`dedup_minhash_pairs`
    (explode distinct shingles once -> 32 plain hash columns -> one
    min-agg shuffle -> banded equi-join -> signature-Jaccard), with
    two substitutions that make every intermediate reproducible in
    DuckDB: the hash family is md5-derived (portable, two md5 seeds
    expanded to N_HASHES members by Kirsch-Mitzenmacher double
    hashing — see the _MH_MOD comment) instead of xxhash64, and a
    band's bucket key is the VALUE TUPLE of its signature rows
    (concat_ws) instead of a second-level hash. Same
    asymptotics; the bucket key is ~4x wider on the wire, which is
    why the xxhash64 variant stays the default at scale. This variant
    exists so the driver's hash_match gate covers the full LSH
    pipeline, not just a rows-only determinism check. As there, the
    signature frame is not persisted: the band self-join and both
    join-backs read its one exchange.
    """
    rows_per_band = N_HASHES // N_BANDS
    # wide_scan: the two per-shingle md5 chains + 32 arithmetic
    # columns are heavy per-row work directly on the scan — r17
    # interleaved A/B won every on/off pair (min 2.75 vs 3.57 s);
    # the xxhash64 twin (dedup_minhash) measured the opposite and
    # stays on the bare scan.
    docs = load_table(spark, sf_dir, "documents", wide_scan=True)
    sh = _doc_shingles(docs, n)
    # two-projection shape: the two md5 chains materialize ONCE per row
    # as plain attributes before the 32 arithmetic columns reference
    # them (same CollapseProject guard as _doc_shingles)
    hashed = sh.select(
        "doc_id",
        _portable_hash("mh1", F.col("shingle"), 15).alias("p1"),
        _portable_hash("mh2", F.col("shingle"), 13).alias("p2"),
    ).select(
        "doc_id",
        *[
            ((F.col("p1") + F.lit(i) * F.col("p2")) % _MH_MOD).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(N_HASHES)]
    )
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_arr = sigs.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig")
    )
    pair = cand.join(
        sig_arr.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
        "doc_a",
    ).join(
        sig_arr.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
        "doc_b",
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(N_HASHES))
    return (
        pair.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def _minhash_portable_oracle(n: int = 5, threshold: float = 0.2) -> str:
    rows_per_band = N_HASHES // N_BANDS
    hcols = ",\n         ".join(
        f"(p1 + {i} * p2) % {_MH_MOD} AS h{i}" for i in range(N_HASHES)
    )
    mins = ", ".join(f"min(h{i}) AS h{i}" for i in range(N_HASHES))
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s.shingle AS shingle
  FROM documents, unnest({shingles_sql('text', n)}) AS s(shingle)
),
seeds AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('mh1|', shingle)), 1, 15))
              AS BIGINT) AS p1,
         CAST(concat('0x', substr(md5(concat('mh2|', shingle)), 1, 13))
              AS BIGINT) AS p2
  FROM sh
),
hashed AS (
  SELECT doc_id,
         {hcols}
  FROM seeds
),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
banded AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ({matches}) / {float(N_HASHES)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE ({matches}) / {float(N_HASHES)} >= {threshold}
"""


DEDUP_MINHASH_PORTABLE_ORACLE = _minhash_portable_oracle()
