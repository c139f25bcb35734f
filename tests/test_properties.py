"""Property-based tests (hypothesis) — a deliberate upgrade over the
reference's golden-only test strategy (SURVEY.md §5: "No
property-based testing").

Each property runs ONE Spark job over a hypothesis-generated batch of
rows (batching keeps JVM round trips off the per-example hot path).
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from honors_p1_mapreduce_spark.functions.text import (
    bigrams_from_tokens,
    tokens_col,
)
from honors_p1_mapreduce_spark.mapreduce import map_reduce

# printable-ish ASCII lines, including regex metacharacters and
# whitespace runs — the tokenizer contract is ASCII by design
# (functions/text.py module docstring)
LINES = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=60,
    ),
    min_size=1,
    max_size=25,
)

_PY_TOKEN = re.compile(r"[a-z0-9_]+")

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _py_tokens(line: str) -> list[str]:
    return _PY_TOKEN.findall(line.lower())


@SLOW
@given(LINES)
def test_tokenizer_matches_python_reference(spark, lines):
    """Spark token stream == the Python re-based reference semantics
    on arbitrary ASCII input (one job per example batch)."""
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    got = [r.toks for r in df.select(tokens_col("text").alias("toks")).collect()]
    # row order of createDataFrame is preserved for local data
    assert got == [_py_tokens(ln) for ln in lines]


@SLOW
@given(LINES)
def test_bigrams_are_adjacent_token_pairs(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    got = [
        r.bg
        for r in df.select(tokens_col("text").alias("toks"))
        .select(bigrams_from_tokens(F.col("toks")).alias("bg"))
        .collect()
    ]
    for ln, bg in zip(lines, got):
        toks = _py_tokens(ln)
        assert bg == [f"{a} {b}" for a, b in zip(toks, toks[1:])]


@SLOW
@given(LINES)
def test_map_reduce_wordcount_matches_python(spark, lines):
    """The generic escape hatch computes exactly what the equivalent
    pure-Python MapReduce computes, for arbitrary input."""
    from collections import Counter

    def mapper(line):
        for t in _py_tokens(line):
            yield t, 1

    def reducer(key, values):
        yield key, sum(int(v) for v in values)

    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    want = Counter(t for ln in lines for t in _py_tokens(ln))
    # two shuffled partitions, and one partition run as one task
    for shaped, n in ((df, 2), (df.coalesce(1), None)):
        got = {
            (r.key, r.value)
            for r in map_reduce(shaped, mapper, reducer, num_partitions=n).collect()
        }
        assert got == {(k, str(v)) for k, v in want.items()}


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(EDGES)
def test_connected_components_matches_union_find(spark, edges):
    # the large-star/small-star loop must label every incident node with
    # its component's minimum, for ANY graph — chains, stars, cycles,
    # parallel/reversed duplicate edges
    from honors_p1_mapreduce_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r.node: r.label for r in connected_components(df).collect()}
    assert got == want


@SLOW
@given(LINES)
def test_chunking_matches_python_reference(spark, lines):
    # sliding-window chunking must agree with a direct Python rendering
    # for ANY text: empty docs dropped, full token coverage, overlap-only
    # trailing windows suppressed
    from honors_p1_mapreduce_spark.operators.text_analysis import (
        CHUNK_OVERLAP,
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )

    docs = spark.createDataFrame(
        list(enumerate(lines)), ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_tokens, r.chunk_text)
        for r in chunk_documents(docs).collect()
    }

    want = {}
    for doc_id, line in enumerate(lines):
        toks = _py_tokens(line)
        for cid, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
            ct = toks[start : start + CHUNK_TOKENS]
            if cid == 0 or len(ct) > CHUNK_OVERLAP:
                want[(doc_id, cid)] = (len(ct), " ".join(ct))
    assert got == want


KEYSETS = st.tuples(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(KEYSETS)
def test_bloom_never_false_negative(spark, keysets):
    # the Bloom guarantee must hold for ANY member/probe key sets:
    # every true member tests positive, and the audit identities hold
    from honors_p1_mapreduce_spark.operators.sketch import bloom_audit

    members_keys, probe_keys = keysets
    members = spark.createDataFrame([(k,) for k in members_keys], ["custkey"])
    probes = spark.createDataFrame([(k,) for k in probe_keys], ["custkey"])
    row = bloom_audit(members, probes, "custkey").collect()[0]

    distinct_probes = set(probe_keys)
    true_members = distinct_probes & set(members_keys)
    assert row.n_probes == len(distinct_probes)
    assert row.n_true_members == len(true_members)
    # no false negatives: bloom positives cover every true member
    assert row.n_bloom_positive >= row.n_true_members
    assert row.n_bloom_positive == row.n_true_members + row.n_false_positives


@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=50, unique=True))
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_split_bucket_matches_python_md5(spark, ids):
    """dataset_split's seeded-md5 bucket must equal an independent
    hashlib computation for arbitrary doc ids — the reproducibility
    contract the split is built on."""
    import hashlib

    from honors_p1_mapreduce_spark.operators.curation_ext import (
        SPLIT_SEED,
        _split_bucket,
    )

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {
        r["doc_id"]: r["bk"]
        for r in df.select(
            "doc_id", _split_bucket(F.col("doc_id")).alias("bk")
        ).collect()
    }
    for i in ids:
        h = hashlib.md5(f"{SPLIT_SEED}{i}".encode()).hexdigest()
        assert got[i] == int(h[:8], 16) % 100


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=2,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_key_matches_python_morton(spark, pts):
    """The Catalyst bit-interleave must equal an independent Python
    Morton encoder over the same bucketization — same mins/maxes,
    same 12-bit scaling, same interleave order."""
    from honors_p1_mapreduce_spark.sources.sinks import ZORDER_BITS, zorder_key

    xs = [a for a, _ in pts]
    ys = [b for _, b in pts]
    lox, hix = min(xs), max(xs)
    loy, hiy = min(ys), max(ys)

    def bucket(v, lo, hi):
        span = float(hi - lo) or 1.0
        return min(
            (1 << ZORDER_BITS) - 1,
            max(0, int((float(v) - lo) / span * ((1 << ZORDER_BITS) - 1))),
        )

    def morton(a, b):
        z = 0
        for bit in range(ZORDER_BITS - 1, -1, -1):
            z = (z << 1) | ((a >> bit) & 1)
            z = (z << 1) | ((b >> bit) & 1)
        return z

    expect = {
        (a, b): morton(bucket(a, lox, hix), bucket(b, loy, hiy)) for a, b in pts
    }
    df = spark.createDataFrame(pts, ["x", "y"])
    z = zorder_key([F.col("x"), F.col("y")], [lox, loy], [hix, hiy])
    got = {(r["x"], r["y"]): r["z"] for r in df.select("x", "y", z.alias("z")).collect()}
    assert got == expect


@SLOW
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            min_size=0,
            max_size=300,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=4, max_value=64),
)
def test_chunked_winnowing_equals_whole_doc(spark, texts, chunk_grams):
    """Window-partition property under hypothesis: for ANY corpus and
    ANY legal chunk_grams (>= W), the chunked fingerprint set equals
    the whole-doc set exactly — chunking is a pure execution-strategy
    choice, never a semantic one."""
    from hypothesis import assume

    from honors_p1_mapreduce_spark.operators import winnow as wn

    assume(chunk_grams >= wn.W)  # strategy min is 4 == W today; keep honest
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    whole = {tuple(r) for r in wn.winnow_fingerprints_from(docs).collect()}
    chunked = {
        tuple(r)
        for r in wn.winnow_fingerprints_chunked_from(
            docs, chunk_grams=chunk_grams
        ).collect()
    }
    assert whole == chunked


KCORE_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ).filter(lambda e: e[0] < e[1]),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(KCORE_EDGES)
def test_kcore_matches_python_peel(spark, edges):
    # the round-parallel peel must agree with the sequential reference
    # peel for ANY graph and k — including empty cores and cascades
    from honors_p1_mapreduce_spark.operators.graph import kcore_edges

    def brute(es, k):
        es = set(es)
        while True:
            deg = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            dead = {n for n, d in deg.items() if d < k}
            if not dead:
                return sorted(es)
            es = {(u, v) for u, v in es if u not in dead and v not in dead}

    df = spark.createDataFrame(edges, ["u", "v"])
    for k in (2, 3):
        got = sorted((r["u"], r["v"]) for r in kcore_edges(df, k).collect())
        assert got == brute(edges, k), k


VALUES = st.lists(
    st.floats(
        min_value=0.0, max_value=1000.0, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(VALUES)
def test_quantile_grid_brackets_exact_for_any_values(spark, values):
    # the log-width sketch's bracket guarantee must hold for ANY value
    # multiset: for every target rank, the chosen bucket's [klo, khi]
    # contains the exact rank-r order statistic in k units
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.sketch import (
        QSK_SCALE,
        _qsk_bucket,
        quantiles_from_grid,
    )

    df = spark.createDataFrame(
        [("t", v) for v in values], ["event_type", "value"]
    )
    grid = (
        df.select("event_type", _qsk_bucket(F.col("value")).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    out = quantiles_from_grid(grid).collect()
    ks = sorted(max(0, int(v * QSK_SCALE + 0.5)) for v in values)
    assert len(out) > 0
    for r in out:
        exact_k = ks[r["rank"] - 1]
        assert r["est_klo"] <= exact_k <= r["est_khi"], (
            values, r["q_pct"], exact_k, r["est_klo"], r["est_khi"],
        )


@SLOW
@given(
    st.lists(LINES, min_size=2, max_size=8),
    st.integers(min_value=2, max_value=5),
)
def test_count_retraction_equals_retrain(spark, docs, mod):
    """Takedown invariance over ARBITRARY corpora: training count
    tables on the full corpus and subtracting the removed split's
    deltas must equal retraining on the kept split — for any text,
    any removal modulus, including splits that empty the vocabulary
    (r10 retract cycle; the sf-corpus pytest pins the registered
    operator, this pins the algebra on adversarial inputs)."""
    from honors_p1_mapreduce_spark.functions.text import (
        bigrams_from_tokens,
        tokens_col,
    )
    from honors_p1_mapreduce_spark.operators.lm_quality import (
        retract_counts,
    )

    rows = [(i, " ".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    removed_pred = F.col("doc_id") % mod == 0

    def counts(frame):
        occ = frame.select(
            "doc_id",
            F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg"),
        )
        return occ.groupBy("bg").agg(F.count("*").alias("cnt"))

    full = counts(df)
    delta = counts(df.filter(removed_pred))
    kept = counts(df.filter(~removed_pred))
    got = sorted(
        tuple(r) for r in retract_counts(full, delta, "bg", "cnt").collect()
    )
    want = sorted(tuple(r) for r in kept.collect())
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),
            st.integers(min_value=0, max_value=(1 << 56) - 1),
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=8),
)
def test_neardup_guards_only_prune(spark, fps, fp_cap, bucket_cap):
    """The boilerplate guards are PRUNING-only for any fingerprint
    frame and any cap values: guarded pairs are a subset of the
    uncapped pairs, and a pair is dropped only if every shared band
    lands in a capped bucket or an endpoint fingerprint is hot —
    guards can never invent or mutate a pair."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        image_neardup_pairs,
    )

    fp = spark.createDataFrame(fps, "doc_id long, fingerprint long")
    unc = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_neardup_pairs(
            fp, fp_cap=None, bucket_cap=None
        ).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_neardup_pairs(
            fp, fp_cap=fp_cap, bucket_cap=bucket_cap
        ).collect()
    }
    assert set(guarded) <= set(unc)
    for k, h in guarded.items():
        assert unc[k] == h  # same pair -> same hamming, never mutated


@given(
    samples=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=57, max_size=64
    ),
    gain=st.integers(min_value=1, max_value=300),
)
@settings(max_examples=60, deadline=None)
def test_wav_volume_hash_gain_invariance_property(samples, gain):
    """The perceptual audio contract as a PROPERTY (r12; the golden in
    test_multimodal pins three hand-built cases): for ANY sample
    stream and ANY positive integer gain that stays in int16 range,
    the envelope-order hash is identical — multiplication by a
    positive constant preserves every |.| comparison, ties included.
    This is the exact reason a volume-adjusted re-encode of a
    benchmark clip lands at hamming 0 in media_audio_decontaminate.
    Pure Python (no Spark job): the hash is the row-local kernel the
    Arrow pass applies."""
    import struct

    from honors_p1_mapreduce_spark.operators import multimodal as mm

    def wav(vals):
        data = b"".join(struct.pack("<h", v) for v in vals)
        return mm._wav_header(len(data)) + data

    h = mm.wav_volume_hash(wav(samples))
    assert 0 <= h < (1 << mm.PHASH_BITS)
    assert mm.wav_volume_hash(wav([gain * v for v in samples])) == h


# arbitrary bytes, biased toward the magic prefixes so the fuzzer
# spends its budget INSIDE the BMP/P6 parsers instead of bouncing off
# the magic check (r13; the r12 fuzz finding was exactly a BM-magic
# truncated header)
_PAYLOADS = st.lists(
    st.one_of(
        st.binary(max_size=40),
        st.binary(max_size=40).map(lambda b: b"BM" + b),
        st.binary(max_size=40).map(lambda b: b"P6" + b),
        st.binary(max_size=40).map(lambda b: b"P6 4 10 255\n" + b),
    ),
    min_size=1,
    max_size=12,
)


@given(_PAYLOADS)
@SLOW
def test_image_fingerprints_total_over_arbitrary_bytes(spark, payloads):
    """The ingest skip contract as a PROPERTY (r13, backing the
    narrowed except): for ANY byte payloads, image_fingerprints never
    fails the job, every row either fingerprints or is counted as a
    skip (rows_out + skips == rows_in), and the rows that DO
    fingerprint agree exactly with the driver-side image_dhash
    kernel. If a new corrupt mode ever raises something outside the
    enumerated set, this test finds it as a job failure — the
    deliberate outcome, so the mode is classified consciously
    (module docstring: CORRUPT-PAYLOAD CONTRACTS) instead of
    swallowed."""
    from honors_p1_mapreduce_spark.operators import multimodal as mm

    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("image/bmp"))
    mm.reset_media_skip_counts()  # the counter is cumulative per context
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in mm.image_fingerprints(media).collect()
    }
    skips = mm.image_fingerprint_skip_count()
    assert len(got) + skips == len(payloads)
    want = {}
    for i, p in enumerate(payloads):
        try:
            want[i] = mm.image_dhash(bytes(p))
        except Exception:
            pass
    assert got == want


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=85), min_size=64, max_size=64
    ),
    gain=st.integers(min_value=1, max_value=3),
    bias=st.integers(min_value=0, max_value=170),
)
# the regression hypothesis found in the first cut (gain*85 + bias
# overflowed byte range before the bias_eff clamp below) — kept as an
# explicit example so the guard survives example-DB loss
@example(vals=[0] * 63 + [35], gain=3, bias=151)
@settings(max_examples=60, deadline=None)
def test_video_hashes_affine_invariance_property(vals, gain, bias):
    """The perceptual video contract as a PROPERTY (the r12 audio
    pattern applied to the r13 tier): for ANY frame payload and ANY
    affine per-channel brightness map v -> gain*v + bias that stays
    in byte range, BOTH the whole-clip hash (avi_video_hash) and the
    per-frame signature (frame_gradient_hash) are identical — the
    map multiplies each luminance by gain and shifts it by 3*bias,
    preserving every order comparison, ties included. This is why a
    re-encode at different brightness/contrast lands at hamming 0 in
    media_video_decontaminate and why frame overlap survives gain
    changes. Pure Python: the hashes are the row-local kernels the
    Arrow passes apply."""
    from honors_p1_mapreduce_spark.operators import multimodal as mm

    from .test_multimodal import _avi_from_payload

    def payload(vs):
        return bytes(v for v in vs for _ in range(3))

    def avi(vs):
        # the goldens' container builder — one synth definition, so
        # this property exercises the same byte layout they pin
        return _avi_from_payload(payload(vs))

    # keep the affine map inside byte range for ANY drawn pair:
    # gain*85 + bias_eff <= 255 (85 is the strategy's value ceiling)
    bias_eff = bias % (256 - gain * 85)
    mapped = [gain * v + bias_eff for v in vals]
    assert all(0 <= v <= 255 for v in mapped)

    h = mm.avi_video_hash(avi(vals))
    assert 0 <= h < (1 << mm.PHASH_BITS)
    assert mm.avi_video_hash(avi(mapped)) == h

    for f in range(mm.AVI_FRAMES):
        grays = [3 * v for v in vals[16 * f : 16 * (f + 1)]]
        mapped_grays = [3 * v for v in mapped[16 * f : 16 * (f + 1)]]
        fp = mm.frame_gradient_hash(grays)
        assert 0 <= fp < (1 << mm.VIDEO_FRAME_FP_BITS)
        assert mm.frame_gradient_hash(mapped_grays) == fp


# arbitrary bytes biased toward the three container magics + the
# repo's own VALID synth prefixes, so the fuzzer spends its budget
# INSIDE the parsers and the sub-item tiling/window loops instead of
# bouncing off the magic checks (r14; the r13 verdict #7 evidence
# story for the sub-item ingest passes)
_SUB_ITEM_PAYLOADS = st.lists(
    st.one_of(
        st.binary(max_size=60),
        st.binary(max_size=60).map(
            lambda b: b"RIFF" + b[:4] + b"AVI " + b[4:]
        ),
        st.binary(max_size=120).map(lambda b: b"BM" + b),
        st.binary(max_size=120).map(lambda b: b"P6 4 10 255\n" + b),
    ),
    min_size=1,
    max_size=10,
)


@given(_SUB_ITEM_PAYLOADS)
@SLOW
def test_video_frame_fingerprints_total_over_arbitrary_bytes(
    spark, payloads
):
    """The sub-item ingest skip contract as a PROPERTY (r14, the
    image_fingerprints totality pattern over the frame-granular
    pass): for ANY byte payloads — including a truncated copy of the
    repo's own valid AVI prefix, which drives the r14 declared-
    geometry bound — video_frame_fingerprints never fails the job,
    every row either yields its exact per-frame rows or counts one
    skip, and the produced (frame_idx, frame_fp) rows agree with the
    driver-side _avi_frames_parse + frame_gradient_hash kernels."""
    from honors_p1_mapreduce_spark.operators import multimodal as mm

    # include one truncation of the genuine synth container per draw
    # so the parse regularly reaches the frame loop
    payloads = list(payloads) + [mm.AVI_PREFIX + payloads[0]]
    need = 3 * mm.VIDEO_FRAME_FP_GRAYS
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    rows.append((len(payloads), None))  # a NULL payload: one more skip
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("video/avi"))
    mm.reset_media_skip_counts()
    got: dict = {}
    for r in mm.video_frame_fingerprints(media).collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["frame_fp"]
    skips = mm.media_skip_count("video")
    want: dict = {}
    n_skip = 0
    for i, p in enumerate(payloads):
        try:
            _w, _h, frames = mm._avi_frames_parse(bytes(p))
            if any(len(fr) < need for fr in frames):
                raise mm.UnsupportedMediaError("below signature window")
        except mm.UnsupportedMediaError:
            n_skip += 1
            continue
        if frames:
            want[i] = {
                fi: mm.frame_gradient_hash(
                    [
                        fr[3 * j] + fr[3 * j + 1] + fr[3 * j + 2]
                        for j in range(mm.VIDEO_FRAME_FP_GRAYS)
                    ]
                )
                for fi, fr in enumerate(frames)
            }
    assert skips == n_skip + 1
    assert got == want


@given(_SUB_ITEM_PAYLOADS)
@SLOW
def test_audio_window_fingerprints_total_over_arbitrary_bytes(
    spark, payloads
):
    """Totality of the snippet-window pass over arbitrary bytes (r14):
    undecodable or sub-window clips count one skip each; decodable
    clips yield exactly the driver-side windowed lag-gradient rows."""
    import struct

    from honors_p1_mapreduce_spark.operators import multimodal as mm

    payloads = list(payloads) + [
        mm._wav_header(len(payloads[0])) + payloads[0]
    ]
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    rows.append((len(payloads), None))  # a NULL payload: one more skip
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("audio/wav"))
    mm.reset_media_skip_counts()
    got: dict = {}
    for r in mm.audio_window_fingerprints(media).collect():
        got.setdefault(r["doc_id"], {})[r["win_idx"]] = r["win_fp"]
    skips = mm.media_skip_count("audio")
    want: dict = {}
    n_skip = 0
    for i, p in enumerate(payloads):
        data = mm._wav_data_section(bytes(p))
        if not data or len(data) // 2 < mm.AUDIO_WIN_SAMPLES:
            n_skip += 1
            continue
        n = len(data) // 2
        av = [abs(v) for v in struct.unpack_from(f"<{n}h", data)]
        w = 0
        wrows = {}
        while w * mm.AUDIO_WIN_STRIDE + mm.AUDIO_WIN_SAMPLES <= n:
            s = w * mm.AUDIO_WIN_STRIDE
            wrows[w] = mm.frame_gradient_hash(
                av[s : s + mm.AUDIO_WIN_SAMPLES]
            )
            w += 1
        want[i] = wrows
    assert skips == n_skip + 1
    assert got == want


@given(_SUB_ITEM_PAYLOADS)
@SLOW
def test_image_tile_fingerprints_total_over_arbitrary_bytes(
    spark, payloads
):
    """Totality of the tile pass over arbitrary bytes (r14):
    undecodable payloads AND decodable-but-sub-tile thumbnails count
    one skip each (the r13-review thumbnail rule); decodable images
    yield exactly the driver-side pixel-bounded tiling rows."""
    from honors_p1_mapreduce_spark.operators import multimodal as mm

    tile_px = mm.IMG_TILE_ROWS * mm.IMG_W
    stride_px = mm.IMG_TILE_STRIDE_ROWS * mm.IMG_W
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    rows.append((len(payloads), None))  # a NULL payload: one more skip
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("image/bmp"))
    mm.reset_media_skip_counts()
    got: dict = {}
    for r in mm.image_tile_fingerprints(media).collect():
        got.setdefault(r["doc_id"], {})[r["tile_idx"]] = r["tile_fp"]
    skips = mm.media_skip_count("image")
    want: dict = {}
    n_skip = 0
    for i, p in enumerate(payloads):
        try:
            w, h, data = mm._pixel_grid(bytes(p))
        except Exception:
            n_skip += 1
            continue
        n_px = w * h
        if n_px < tile_px:
            n_skip += 1
            continue
        grays = [
            data[3 * q] + data[3 * q + 1] + data[3 * q + 2]
            for q in range(n_px)
        ]
        want[i] = {
            t: mm.frame_gradient_hash(grays[s : s + tile_px])
            for t, s in enumerate(range(0, n_px - tile_px + 1, stride_px))
        }
    assert skips == n_skip + 1
    assert got == want


SNAPSHOTS = st.tuples(
    st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.sampled_from(["a", "b", "c"]),
        max_size=12,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.sampled_from(["a", "b", "c"]),
        max_size=12,
    ),
).filter(lambda s: s[0] or s[1])


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(SNAPSHOTS)
def test_snapshot_diff_matches_python_reference(spark, snaps):
    # the full-outer diff must report exactly the added/removed/changed
    # keys for ANY pair of (doc_id -> hash) snapshots — including an
    # empty side, identical sides, and hash collisions across docs
    from honors_p1_mapreduce_spark.operators.curation_ext import snapshot_diff

    old, new = snaps
    want = {}
    for d in set(old) | set(new):
        if d not in old:
            want[d] = "added"
        elif d not in new:
            want[d] = "removed"
        elif old[d] != new[d]:
            want[d] = "changed"

    schema = "doc_id long, h string"
    odf = spark.createDataFrame(list(old.items()), schema)
    ndf = spark.createDataFrame(list(new.items()), schema)
    got = {r.doc_id: r.status for r in snapshot_diff(odf, ndf).collect()}
    assert got == want
