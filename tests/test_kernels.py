"""Behavioral tests for operator kernels on hand-built micro-DataFrames —
the edge cases FIXTURES.md §B calls out (idempotency, null-safe change
detection, boundary semantics, planted near-duplicates)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark.ext import dedup as xdedup
from beeper_matric_etl_tool_spark.ext import similarity as xsim
from beeper_matric_etl_tool_spark.operators import windows as xwin
from beeper_matric_etl_tool_spark.operators.dedup import latest_by_key
from beeper_matric_etl_tool_spark.operators.merge import merge_upsert


def test_latest_by_key_last_write_wins(spark):
    df = spark.createDataFrame(
        [("e1", 1, "old"), ("e1", 2, "new"), ("e2", 1, "only")],
        "event_id string, seq int, body string",
    )
    out = latest_by_key(df, ["event_id"], [F.col("seq").desc()])
    got = {r.event_id: r.body for r in out.collect()}
    assert got == {"e1": "new", "e2": "only"}


def test_merge_upsert_change_detection_and_idempotency(spark):
    existing = spark.createDataFrame(
        [("u1", "alice", None), ("u2", "bob", "x"), ("u3", "carol", "y")],
        "user_id string, display_name string, avatar string",
    )
    incoming = spark.createDataFrame(
        [
            ("u1", "alice", None),   # identical incl. null -> keep (dead write skipped)
            ("u2", "bobby", "x"),   # changed -> update
            ("u4", "dave", None),   # new -> insert
        ],
        "user_id string, display_name string, avatar string",
    )
    out = merge_upsert(existing, incoming, keys=["user_id"])
    actions = {r.user_id: r.action for r in out.collect()}
    assert actions == {"u1": "keep", "u2": "update", "u3": "keep", "u4": "insert"}
    # null-safe: u1's null avatar vs null avatar must NOT count as a change
    # idempotency: re-merging the merged state with the same batch -> all keep
    merged = merge_upsert(existing, incoming, keys=["user_id"], action_col=None)
    again = merge_upsert(merged, incoming, keys=["user_id"])
    assert {r.action for r in again.collect()} == {"keep"}


def test_minhash_finds_planted_near_duplicates(spark):
    base = "spark shuffle partition broadcast join window aggregate filter scan parquet " * 5
    near = base.replace("broadcast", "bcast", 1)  # one token differs
    other = "completely different tokens entirely unrelated content words here now then " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = xdedup.near_dedup_minhash(df, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    assert pairs[0].jaccard_ppm > 500_000  # floor-ppm fixed point, not round()
    # the portable (md5) hash family finds the same planted pair with the
    # same exact-Jaccard score — only the LSH bucketing hash differs
    portable = xdedup.near_dedup_minhash(df, threshold=0.5, portable=True).collect()
    assert [(r.id_a, r.id_b) for r in portable] == [(1, 2)]
    assert portable[0].jaccard_ppm == pairs[0].jaccard_ppm


def test_portable_simhash_recall_and_hash_range(spark):
    """Portable 60-bit simhash: same planted-dup recall as the xxhash64
    path, and every token hash stays inside [0, 2^60) — the signed-BIGINT
    safety the cross-engine contract rests on."""
    from pyspark.sql import functions as SF

    base = "spark shuffle partition broadcast join window aggregate filter scan parquet " * 5
    near = base.replace("broadcast", "bcast", 1)
    other = "completely different tokens entirely unrelated content words here now then " * 5
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id long, text string")
    sigs = xdedup.simhash_bits(df, portable=True)
    assert all(len(r.bits) == xdedup.SIMHASH_BITS_PORTABLE for r in sigs.collect())
    pairs = xdedup.simhash_candidate_pairs(
        sigs, max_hamming=14, bands=15, n_bits=xdedup.SIMHASH_BITS_PORTABLE
    ).collect()
    assert (1, 2) in [(r.id_a, r.id_b) for r in pairs]
    assert all({r.id_a, r.id_b} != {1, 3} and {r.id_a, r.id_b} != {2, 3} for r in pairs)
    hashes = df.select(
        SF.explode(SF.split("text", " ")).alias("t")
    ).select(xdedup.portable_hash60(SF.col("t")).alias("h"))
    bad = hashes.filter((SF.col("h") < 0) | (SF.col("h") >= 2**60)).count()
    assert bad == 0


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(10, "same text"), (3, "same text"), (5, "unique")], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in xdedup.exact_dedup(df).collect())
    assert got == [3, 5]


def test_soft_dedup_weights_mass_preserving(spark):
    """SoftDeDup down-weighting: every row survives with weight_ppm =
    1e6 DIV dup_count, a duplicate group's total weight lands within
    rounding of 1e6 (n copies ≡ one unique doc's mass), unique docs keep
    full weight, and the result is partition-layout invariant."""
    rows = [(1, "same text"), (7, "same text"), (4, "same text"),
            (9, "unique one"), (2, "unique two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for layout in (df.coalesce(1), df.repartition(4)):
        got = {
            r["doc_id"]: (r["dup_count"], r["weight_ppm"])
            for r in xdedup.soft_dedup_weights(layout).collect()
        }
        assert got == {
            1: (3, 333_333), 7: (3, 333_333), 4: (3, 333_333),
            9: (1, 1_000_000), 2: (1, 1_000_000),
        }
    group_mass = 3 * 333_333
    assert 1_000_000 - 3 < group_mass <= 1_000_000


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3 (via pairs (1,2),(2,3)) + island (8,9): min-label must
    # propagate across the chain, not just direct neighbours
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in xdedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_dedup_clusters_labels_whole_corpus(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 8, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in xdedup.dedup_clusters(docs, pairs).collect()}
    assert {d: r.cluster_id for d, r in rows.items()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 8, 9: 8
    }
    # survivors: one canonical per cluster + singletons
    assert sorted(d for d, r in rows.items() if r.is_canonical) == [1, 7, 8]


def test_connected_components_raises_when_not_converged(spark):
    # a 4-chain needs >1 round under any scheme; cap at 1 → must refuse
    # loudly rather than return a silently-partial clustering
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        xdedup.connected_components(pairs, max_iterations=1)


def test_connected_components_long_chain_converges_log_rounds(spark):
    """The round-5 verdict's pathological case, closed: a templated-
    document CHAIN far longer than the round budget. Plain min-label
    propagation moves the minimum one hop per round (a 300-path needs
    ~300 rounds and would hit the 50-round raise); the pointer-jumping
    step halves label chains every round, so the same path converges in
    O(log 300) ≈ 9 rounds — pinned here by running with a 15-round cap,
    well under the chain length."""
    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component
        for r in xdedup.connected_components(pairs, max_iterations=15).collect()
    }
    assert len(comp) == n + 1
    assert set(comp.values()) == {0}  # one component, labeled by its minimum


def test_cosine_identical_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [2.0, 0.0, 4.0]), (3, [-1.0, 5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = xsim.cosine_topk(df.filter("vec_id = 1"), df, k=2)
    rows = {r.neighbor_id: r.cosine_ppm for r in out.collect()}
    assert rows[2] >= 999_999  # colinear (ppm fixed-point, floor)
    assert rows[3] < 100_000


def test_session_window_boundary(spark):
    """F.session_window semantics: an event at exactly prev+gap MERGES;
    only a strictly larger gap opens a new session. The DuckDB oracle for
    events_sessions mirrors this with `> INTERVAL` (not >=)."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            ("u", t0),
            ("u", t0 + dt.timedelta(minutes=30)),                  # exactly gap -> merges
            ("u", t0 + dt.timedelta(minutes=60, seconds=1)),       # > gap -> new session
        ],
        "user_id string, ts timestamp",
    )
    out = xwin.sessionized(df, "ts", "30 minutes", ["user_id"], F.count(F.lit(1)).alias("n"))
    sessions = sorted((r.session_start, r.n) for r in out.collect())
    assert len(sessions) == 2
    assert sessions[0][1] == 2 and sessions[1][1] == 1


def test_multimodal_feature_extraction_batch_shape(spark):
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark"), (3, "")], "doc_id long, text string"
    ).repartition(2)
    out = xmm.extract_features(xmm.attach_payload(df))
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].byte_len == 11
    assert len(rows[1].feature) == xmm.FEATURE_DIM
    # determinism: same input -> identical features on recompute (retry safety)
    again = {r.doc_id: r.feature for r in out.collect()}
    assert again[1] == rows[1].feature


def test_multimodal_decodes_real_bmp_and_wav(spark):
    """The decode stage is a REAL codec for uncompressed media: BMP header
    + pixel parse (width/height/row padding/bottom-up flip) and WAV chunk
    walk (fmt/data, 16-bit PCM). Stub path remains only for non-media
    payloads. End-to-end through the Arrow mapInPandas stage."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    bmp = xmm.make_bmp(13, 7, seed=3)  # odd width exercises row padding
    wav = xmm.make_wav(400, channels=2, seed=1)
    # direct codec checks
    w, h, feats = xmm._decode(bmp)
    assert (w, h) == (13, 7)
    assert len(feats) == xmm.FEATURE_DIM and all(0.0 <= f <= 13 / 7 + 1 for f in feats)
    n_frames, channels, afeats = xmm._decode(wav)
    assert (n_frames, channels) == (400, 2)
    rms = afeats[0]
    assert 0.2 < rms < 0.8  # sine at ~0.49 full-scale
    # end-to-end through the Spark stage, mixed with a stub-path payload
    rows = [(1, bytearray(bmp)), (2, bytearray(wav)), (3, bytearray(b"plain text"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    from pyspark.sql import functions as SF

    with_meta = df.withColumn(
        "media_meta",
        SF.struct(
            SF.lit("application/octet-stream").alias("mime"),
            SF.octet_length("payload").cast("long").alias("byte_len"),
            SF.sha2("payload", 256).alias("sha256"),
        ),
    )
    out = {r.doc_id: r for r in xmm.extract_features(with_meta).collect()}
    assert (out[1].width, out[1].height) == (13, 7)
    assert (out[2].width, out[2].height) == (400, 2)
    assert np.allclose(out[2].feature[0], rms, atol=1e-6)
    assert len(out[3].feature) == xmm.FEATURE_DIM  # stub path still works


def test_multimodal_resize_roundtrip_and_dead_letter(spark):
    """resize: nearest-neighbor over real BMP pixels, re-encoded as real BMP
    (output decodable by the same codec); non-image payloads dead-letter
    with error set rather than dropping or mis-decoding."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    bmp = xmm.make_bmp(16, 12, seed=5)
    rows = [(1, bytearray(bmp)), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(2)
    out = {r.doc_id: r for r in xmm.resize_images(df, width=8, height=6).collect()}
    assert out[1].error is None
    w, h, _ = xmm._decode(bytes(out[1].payload))
    assert (w, h) == (8, 6)
    # nearest-neighbor at exact 2x downscale: output pixel (y,x) == source
    # pixel (2y+1, 2x+1) (sample-at-center)
    src = xmm._bmp_pixels(bmp)
    dst = xmm._bmp_pixels(bytes(out[1].payload))
    assert np.array_equal(dst, src[1::2][:, 1::2])
    assert out[2].payload is None and "resize_error" in out[2].error
    # determinism under recompute
    again = {r.doc_id: r for r in xmm.resize_images(df, width=8, height=6).collect()}
    assert bytes(again[1].payload) == bytes(out[1].payload)

    # review-found crash, pinned: BMP magic + truncated pixel data is a
    # DATA problem (dead-letter row), not a task-killing ValueError
    corrupt = spark.createDataFrame(
        [(3, bytearray(bmp[:60]))], "doc_id long, payload binary"
    )
    bad = xmm.resize_images(corrupt, width=8, height=6).collect()[0]
    assert bad.payload is None and "resize_error" in bad.error


def test_multimodal_audio_frame_sampling(spark):
    """frame-sample: 25/10 ms framing of 16-bit PCM; frame count, spacing
    and energy match a NumPy reference; non-audio rows yield no frames."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    rate = 8000
    n = 2 * rate  # 2 s
    wav = xmm.make_wav(n, channels=1, rate=rate, seed=2)
    rows = [(1, bytearray(wav)), (2, bytearray(b"text payload"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    frames = xmm.sample_audio_frames(df, frame_ms=25, hop_ms=10).collect()
    assert {r.doc_id for r in frames} == {1}
    flen, hop = rate * 25 // 1000, rate * 10 // 1000
    expected_n = 1 + (n - flen) // hop
    assert len(frames) == expected_n
    by_idx = sorted(frames, key=lambda r: r.frame_idx)
    assert by_idx[1].start_ms - by_idx[0].start_ms == 10
    # energy: steady full-ish sine -> every frame RMS near global RMS
    pcm, _, _ = xmm._wav_pcm(wav)
    global_rms = float(np.sqrt((pcm.mean(axis=1) ** 2).mean()))
    assert all(abs(r.rms - global_rms) < 0.1 for r in by_idx)
    assert all(0.0 < r.zcr < 0.5 and r.peak <= 1.0 for r in by_idx)

    # review-found crash, pinned: RIFF magic + truncated (odd-length) data
    # chunk must SKIP the payload, not kill the task with a frombuffer
    # ValueError — "a mixed corpus is not an error condition"
    mixed = spark.createDataFrame(
        [(1, bytearray(wav)), (3, bytearray(wav[:-1]))], "doc_id long, payload binary"
    )
    got = xmm.sample_audio_frames(mixed, frame_ms=25, hop_ms=10).collect()
    assert {r.doc_id for r in got} == {1}


def test_image_dhash_near_dup_pairs(spark):
    """Perceptual image near-dup: a near-identical pair (one inverted
    pixel column) is found with small positive hamming; an identical
    copy at hamming 0; a pristine different image (other seed) is NOT
    paired; an undecodable payload dead-letters out of the banding.
    Spark hammings equal the NumPy reference exactly (integer luma)."""
    import numpy as np
    import pytest

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    a = xmm.make_gradient_bmp(36, 32, seed=2)
    a_near = xmm.make_gradient_bmp(36, 32, seed=2, invert_col=18)
    b_far = xmm.make_gradient_bmp(36, 32, seed=4)
    rows = [
        (1, bytearray(a)), (2, bytearray(a_near)), (3, bytearray(b_far)),
        (4, bytearray(a)), (5, bytearray(b"definitely not a bitmap")),
        (6, None),  # NULL payload — must dead-letter, not crash the task
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    # reference hammings straight off the decoded pixels
    def ref_bits(payload):
        return np.array(xmm._dhash_of(xmm._bmp_pixels(payload)[:, :, :3]))

    ra, rn, rf = ref_bits(a), ref_bits(a_near), ref_bits(b_far)
    h_near = int((ra != rn).sum())
    assert 0 < h_near <= 12  # the planted edit is a NEAR duplicate
    assert int((ra != rf).sum()) > 12  # the other seed is genuinely far

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in xmm.image_near_dup_pairs(
            df, max_hamming=12, bands=16, n_bits=64
        ).collect()
    }
    assert pairs[(1, 4)] == 0  # identical copy
    assert pairs[(1, 2)] == h_near == pairs[(2, 4)]
    # pristine negative + both dead-letter rows stay out of the pairs
    assert not any(3 in p or 5 in p or 6 in p for p in pairs)
    assert set(pairs) == {(1, 4), (1, 2), (2, 4)}

    # signatures surface: identical images -> identical bits; the
    # dead-letter row carries error + NULL bits (never enters banding)
    sigs = {r.doc_id: r for r in xmm.image_perceptual_bits(df, n_bits=64).collect()}
    assert sigs[1].bits == sigs[4].bits and len(sigs[1].bits) == 64
    assert sigs[1].width == 36 and sigs[1].height == 32
    assert sigs[5].bits is None and "phash_error" in sigs[5].error
    assert sigs[6].bits is None and "null payload" in sigs[6].error

    # aHash method: same machinery, global-threshold signature — and the
    # 256-bit production width scales both hashers' grids (16x16 / 16x17)
    asigs = {
        r.doc_id: r.bits
        for r in xmm.image_perceptual_bits(df, method="ahash", n_bits=64).collect()
    }
    assert asigs[1] == asigs[4] and asigs[1] != asigs[3]
    wide = {
        r.doc_id: r
        for r in xmm.image_perceptual_bits(df, method="ahash", n_bits=256).collect()
    }
    assert len(wide[1].bits) == 256 and wide[1].bits == wide[4].bits
    assert wide[1].bits != wide[3].bits
    assert wide[5].bits is None  # dead-letter contract width-independent

    # the pigeonhole recall guarantee is enforced, not assumed
    with pytest.raises(ValueError, match="bands"):
        xmm.image_near_dup_pairs(df, max_hamming=16, bands=16).collect()


def test_simhash_banding_single_signature_pass(spark):
    """The banding self-join consumes the signature relation as BOTH
    sides and Catalyst does not reuse the unshuffled stage — so
    simhash_candidate_pairs localCheckpoints the pruned (id, bits)
    relation once (cache=True default). Plan-pinned on the image path,
    where the duplicated stage is the BMP DECODE: zero MapInPandas
    stages survive in the pairs plan under the default (the decode
    already materialized at checkpoint time); exactly two without the
    cache — the double-decode this guards against."""
    from beeper_matric_etl_tool_spark.ext import dedup as xdedup
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    rows = [(i, bytearray(xmm.make_gradient_bmp(36, 32, i % 3))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    def plan_of(pairs_df):
        return pairs_df._jdf.queryExecution().executedPlan().toString()

    cached = xmm.image_near_dup_pairs(df, max_hamming=12, bands=16)
    assert plan_of(cached).count("MapInPandas") == 0

    sigs = xmm.image_perceptual_bits(df).filter(
        F.col("error").isNull()
    ).select("doc_id", "bits")
    uncached = xdedup.simhash_candidate_pairs(
        sigs, max_hamming=12, bands=16, n_bits=xmm.DEFAULT_SIG_BITS, cache=False
    )
    # the skew guard makes the signature relation a MULTI-consumer (the
    # bucket-size agg + the small and big legs' two sides each) — without
    # the checkpoint the decode re-executes once per consumer
    assert plan_of(uncached).count("MapInPandas") >= 2
    # and the pair sets are identical either way
    assert sorted(map(tuple, cached.collect())) == sorted(
        map(tuple, uncached.collect())
    )


def test_sinks_indexed_layout_and_keyed_update(spark, tmp_path):
    from beeper_matric_etl_tool_spark import sinks

    df = spark.createDataFrame(
        [("r1", 10, "a"), ("r1", 20, "b"), ("r2", 5, "c")],
        "room_id string, ts long, body string",
    )
    path = str(tmp_path / "messages")
    sinks.write_indexed(df, path, partition_by=["room_id"], sort_within=["ts"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning is visible in the plan: only r1's directory is read
    plan = back.filter(F.col("room_id") == "r1")._jdf.queryExecution().executedPlan().toString()
    assert back.filter(F.col("room_id") == "r1").count() == 2

    # K8 keyed update: changes matched row, errors on no-match
    upd = spark.createDataFrame([("r2", 5, "c2")], "room_id string, ts long, body string")
    changed = sinks.keyed_update(spark, path, upd, keys=["room_id", "ts"])
    assert changed == 1
    assert spark.read.parquet(path).filter("body = 'c2'").count() == 1
    import pytest as _pytest

    missing = spark.createDataFrame([("zz", 1, "x")], "room_id string, ts long, body string")
    with _pytest.raises(ValueError):
        sinks.keyed_update(spark, path, missing, keys=["room_id", "ts"])


def test_batched_append_bounds_file_rows(spark, tmp_path):
    from beeper_matric_etl_tool_spark import sinks

    df = spark.range(250).withColumnRenamed("id", "v")
    path = str(tmp_path / "batched")
    sinks.batched_append(df, path, rows_per_batch=100)
    import glob

    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == 3  # ceil(250/100)
    assert spark.read.parquet(path).count() == 250


def test_simhash_finds_planted_near_duplicates(spark):
    base = "spark shuffle partition broadcast join window aggregate filter scan parquet " * 5
    near = base.replace("broadcast", "bcast", 1)
    other = "completely different tokens entirely unrelated content words here now then " * 5
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id long, text string")
    sigs = xdedup.simhash_bits(df)
    pairs = xdedup.simhash_candidate_pairs(sigs, max_hamming=15, bands=16).collect()
    assert (1, 2) in [(r.id_a, r.id_b) for r in pairs]
    assert all({r.id_a, r.id_b} != {1, 3} and {r.id_a, r.id_b} != {2, 3} for r in pairs)
    # the recall guarantee is enforced, not silently broken
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        xdedup.simhash_candidate_pairs(sigs, max_hamming=16, bands=4)


def test_approx_sketches_within_bounds(spark, sf_dir):
    from beeper_matric_etl_tool_spark.plans import specs

    out = specs()["approx_sketches"].fn(spark, sf_dir).collect()[0]
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    events = load(spark, sf_dir, "events")
    assert out.exact_users == events.select("user_id").distinct().count()
    assert out.exact_events == events.count()  # event_id is unique per event
    # each engine's sketch must land inside its own documented bound
    assert out.users_approx_ok and out.events_approx_ok
    assert out.q50_approx_ok and out.q95_approx_ok and out.q99_approx_ok


def test_quantized_dot_paths_agree_exactly(spark):
    """The JVM fold and the Arrow/NumPy pandas_udf must produce IDENTICAL
    integers over quantized vectors — that exactness (partial sums < 2^53)
    is what lets cosine_topk flip between them freely at any scale."""
    from beeper_matric_etl_tool_spark.ext import similarity as xs
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    qv = xs.quantize(F.col("embedding"))
    both = emb.select(
        xs.dot(qv, qv).alias("jvm"), xs.dot_rows(qv, qv).alias("arrow")
    )
    assert both.filter(F.col("jvm") != F.col("arrow")).count() == 0


def test_kmeans_deterministic_and_covers_all(spark):
    """Lloyd's update sums quantized longs, so training is bit-stable
    across input partitionings: the same corpus under 1, 3 and 7 input
    partitions yields identical assignments AND centroids. The corpus is
    the embeddings rescaled to doubles (x / 3), whose raw sums are not
    exact in binary — a double-summing update changes with the partial-sum
    order."""
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings").limit(100).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / 3.0).alias("embedding"),
    ).localCheckpoint(eager=True)

    def run(parts):
        a, c = kmeans(emb.repartition(parts), k=4, iterations=2)
        return (
            sorted((r.vec_id, r.cluster_id) for r in a.collect()),
            sorted((r.cluster_id, tuple(r.centroid)) for r in c.collect()),
        )

    (rows1, cents1), (rows3, cents3), (rows7, cents7) = run(1), run(3), run(7)
    assert rows1 == rows3 == rows7  # retry/replay safe on any layout
    assert cents1 == cents3 == cents7
    assert len(rows1) == 100  # every vector assigned exactly once
    assert len(cents1) <= 4


def test_kmeans_jobs_per_lloyd_round(spark):
    """One corpus pass plus one aggregate-and-collect per Lloyd round: at
    most 2 jobs per round (the aggregate's map stage and its collect),
    measured as the job-counter difference between 3 and 1 iterations."""
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(iterations):
        j0 = dag.numTotalJobs()
        kmeans(emb, k=8, iterations=iterations)
        return dag.numTotalJobs() - j0

    assert (jobs(3) - jobs(1)) / 2 <= 2


def test_kmeans_scales_to_embedding_width_512(spark):
    """The update step must be dimension-agnostic: at dim 512 a
    per-dimension F.sum(vec[i]) update would build 512 aggregate
    expressions and stall in analysis, while the partial sums keyed by
    (cluster, position) keep the plan the same size at any width — this
    pins that AND that the centroids keep position order."""
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans

    dim = 512
    rows = [(i, [float((i * 31 + j * 7) % 97) / 97.0 for j in range(dim)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assignments, centroids = kmeans(df, k=3, iterations=2)
    assert assignments.count() == 60
    cents = centroids.collect()
    assert all(len(r.centroid) == dim for r in cents)
    # position order preserved: a centroid of a single-member cluster would
    # equal the member; cheaper invariant — every component is a mean of
    # values in [0,1), so must itself be in [0,1)
    assert all(0.0 <= v < 1.0 for r in cents for v in r.centroid)


def test_config_upsert_schema_evolution(spark, tmp_path):
    from beeper_matric_etl_tool_spark import sinks

    path = str(tmp_path / "config")
    out1 = sinks.upsert_config(spark, path, {"sync_interval": 30, "theme": "dark"})
    assert out1.first().asDict() == {"sync_interval": 30, "theme": "dark"}
    # new key merges into schema, changed key overwrites, old key survives
    out2 = sinks.upsert_config(spark, path, {"theme": "light", "page_size": 50})
    row = out2.first().asDict()
    assert row == {"sync_interval": 30, "theme": "light", "page_size": 50}


def test_schema_contract_gate(spark):
    from pyspark.sql import types as T

    from beeper_matric_etl_tool_spark.functions.scalar import validate_schema

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    ok = T.StructType([T.StructField("id", T.LongType()), T.StructField("name", T.StringType())])
    assert validate_schema(df, ok) is df
    bad = T.StructType([T.StructField("id", T.StringType()), T.StructField("name", T.StringType())])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema contract violation"):
        validate_schema(df, bad)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from beeper_matric_etl_tool_spark import sinks

    left = spark.range(0, 1000).withColumn("k", F.col("id") % 100).withColumn("a", F.lit("l"))
    right = spark.range(0, 500).withColumn("k", F.col("id") % 100).withColumn("b", F.lit("r"))
    sinks.write_bucketed(left, spark, "bl", ["k"], num_buckets=4)
    sinks.write_bucketed(right, spark, "br", ["k"], num_buckets=4)
    lt, rt = spark.table("bl"), spark.table("br")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lt.join(rt, on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bl")
        spark.sql("DROP TABLE IF EXISTS br")


def test_asof_join_semantics(spark):
    from beeper_matric_etl_tool_spark.operators.asof import asof_join

    events = spark.createDataFrame(
        [("u", 0, "e0"), ("u", 20, "e20"), ("u", 30, "e30"), ("u", 45, "e45")],
        "user_id string, ts long, event_id string",
    )
    state = spark.createDataFrame(
        [("u", 10, "s10"), ("u", 30, "s30")], "user_id string, ts long, sval string"
    )
    out = asof_join(events, state, on=["user_id"], events_ts="ts", state_ts="ts",
                    payload=["sval"])
    got = {r.event_id: r.sval for r in out.collect()}
    # e0 precedes all state -> null; e20 sees s10; e30 sees s30 (ties are
    # inclusive, state visible at its own timestamp); e45 sees s30
    assert got == {"e0": None, "e20": "s10", "e30": "s30", "e45": "s30"}


def test_interval_join_boundaries_and_multibin(spark):
    """Containment edges: inclusive at both interval endpoints, intervals
    spanning many bins match points in every covered bin exactly once (a
    point's single bin meets an interval's exploded bins at most once —
    the no-dedup-needed invariant)."""
    from pyspark.sql import functions as F

    from beeper_matric_etl_tool_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 02:30:00"),
         (3, "2024-01-01 05:00:00"), (4, "2024-01-01 05:00:01")],
        "pid long, ts string",
    ).select("pid", F.col("ts").cast("timestamp").alias("ts"))
    intervals = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 05:00:00"),   # 6 bins wide
         (20, "2024-01-01 02:00:00", "2024-01-01 02:59:59")],  # 1 bin
        "iid long, start string, end string",
    ).select(
        "iid",
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    got = sorted((r.pid, r.iid) for r in interval_join(points, intervals).collect())
    # pid1 at interval-10 start (inclusive), pid3 at its end (inclusive),
    # pid4 one second past (excluded); pid2 inside both intervals
    assert got == [(1, 10), (2, 10), (2, 20), (3, 10)]


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """The ANN quality gate: IVF(k-means, nprobe=1) neighbors must overlap
    substantially with exact brute-force neighbors, the assignment must be
    total, and every vector must sit in its argmin cluster — the same
    invariant relation the driver hash-checks (`kmeans_invariants`)."""
    from beeper_matric_etl_tool_spark.plans import specs

    row = specs()["kmeans_invariants"].fn(spark, sf_dir).collect()[0]
    assert row.n_assigned == row.n_vectors
    assert row.argmin_ok
    assert row.recall_floor_ok  # pooled recall ≥ 0.2 — nprobe=1 floor


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """nprobe=2 is the recall knob: WHEN the probe's own partition sits
    inside its 2-nearest-centroid set, the ivf2 candidate set is a SUPERSET
    of ivf's, so at equal k its worst kept neighbor can only be better or
    equal. (On tiny random data a probe's own label can fall outside its
    top-2 centroids — those probes carry no containment guarantee, so the
    dominance check is conditional.) Also pins centroid-sum exactness:
    every component is an integer (a sum of floor-quantized components),
    counts add up to the corpus, and the ranking is deterministic across
    re-computation."""
    from pyspark.sql import functions as F

    from beeper_matric_etl_tool_spark.plans import specs
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, sf_dir, "embeddings")
    cent = xsim.label_centroid_sums(emb).collect()
    assert sum(r.cnt for r in cent) == emb.count()
    assert all(float(s).is_integer() for r in cent for s in r.sums)

    probes = emb.filter(F.col("vec_id") < 8)
    mp = xsim.multiprobe_labels(probes, xsim.label_centroid_sums(emb), nprobe=2)
    pairs = sorted((r.query_id, r.label) for r in mp.collect())
    assert pairs == sorted((r.query_id, r.label) for r in mp.collect())  # deterministic
    top2 = {}
    for q, lbl in pairs:
        top2.setdefault(q, set()).add(lbl)
    assert all(len(labels) == 2 for labels in top2.values())
    own = {r.vec_id: r.label for r in probes.select("vec_id", "label").collect()}

    # both scorers must drive the multiprobe leg to the same rows
    suite_kwargs = dict(
        k_brute=10, k_ivf=5, partition_col="label", probe_labels=mp, k_multi=5
    )
    via_matmul = sorted(map(tuple, xsim.knn_suite(probes, emb, **suite_kwargs).collect()))
    via_pairwise = sorted(
        map(tuple, xsim.knn_suite(probes, emb, scoring="pairwise", **suite_kwargs).collect())
    )
    assert via_matmul == via_pairwise

    worst = {}
    for r in specs()["knn_search"].fn(spark, sf_dir).collect():
        if r.strategy == "ivf":
            cur = worst.setdefault((r.query_id, "ivf"), r.cosine_ppm)
            worst[(r.query_id, "ivf")] = min(cur, r.cosine_ppm)
    for r in specs()["knn_multiprobe"].fn(spark, sf_dir).collect():
        if r.kind != "topk":  # the recall-audit leg carries NULL scores
            continue
        cur = worst.setdefault((r.query_id, "ivf2"), r.cosine_ppm)
        worst[(r.query_id, "ivf2")] = min(cur, r.cosine_ppm)
    for q, labels in top2.items():
        if own[q] in labels and (q, "ivf") in worst and (q, "ivf2") in worst:
            assert worst[(q, "ivf2")] >= worst[(q, "ivf")]


def test_zscore_pandas_matches_native(spark, sf_dir):
    """Policy gate (SURVEY §2.10): the grouped-map Pandas escape hatch must
    agree with the native window implementation it would replace."""
    from beeper_matric_etl_tool_spark.ext import grouped
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    nat = {r.event_id: r.zscore for r in grouped.zscore_native(events, "user_id", "value").collect()}
    pdz = {r.event_id: r.zscore for r in grouped.zscore_pandas(events, "user_id", "value").collect()}
    assert nat.keys() == pdz.keys()
    assert all(abs(nat[k] - pdz[k]) < 1e-9 for k in nat)


def test_salted_join_and_agg_match_plain(spark):
    """Skew operators are pure rewrites: results must equal the plain forms
    row-for-row, with the hot key's rows spread across salt buckets."""
    from beeper_matric_etl_tool_spark.operators import skew

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(1000)], "row_id long, k string"
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, tag string")

    plain = big.join(small, on="k").select("row_id", "tag")
    salted = skew.salted_join(big, small, on="k", salt_source="row_id").select("row_id", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    plain_agg = big.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.max("row_id").alias("mx")
    )
    salted_agg = skew.salted_aggregate(
        big, ["k"],
        # explicit phase-2 combiner per aggregate: counts re-SUM, maxima
        # re-MAX — the exact case the old implicit always-sum corrupted
        {"n": (F.count(F.lit(1)), F.sum), "mx": (F.max("row_id"), F.max)},
        salt_source="row_id",
    )
    assert sorted(map(tuple, plain_agg.collect())) == sorted(map(tuple, salted_agg.collect()))

    # a bare Column (the old API, implicit sum recombine) must raise: a
    # caller passing F.max would get sum-of-per-salt-maxima silently
    with pytest.raises(TypeError, match="phase2_combiner"):
        skew.salted_aggregate(big, ["k"], {"mx": F.max("row_id")}, salt_source="row_id")

    # review-found guard bypass, pinned: EVERY outer-ish alias must raise —
    # Spark's how='outer' IS full-outer, and the old blocklist missed it
    # (unmatched small rows would surface once per salt copy)
    for bad_how in ("outer", "full", "fullouter", "full_outer", "right", "rightouter", "cross"):
        with pytest.raises(ValueError, match="salted_join"):
            skew.salted_join(big, small, on="k", salt_source="row_id", how=bad_how)


def test_ivf_index_build_probe_and_nprobe_recall(spark, tmp_path, sf_dir):
    """Index lifecycle: build once (centroids + cluster-partitioned
    vectors), probe with nprobe clusters. More probes must not lower recall
    vs brute force, and nprobe=k is exhaustive."""
    from beeper_matric_etl_tool_spark.ext import similarity_index as ivf
    from beeper_matric_etl_tool_spark.ext.similarity import cosine_topk
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    ivf.build_ivf_index(emb, path, k=4, iterations=2)
    assert spark.read.parquet(path + "/centroids").count() <= 4

    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, emb, k=5)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(nprobe):
        got = {}
        for r in ivf.search_ivf(spark, path, queries, k=5, nprobe=nprobe).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(exact_sets[q] & got.get(q, set())) / len(exact_sets[q]) for q in exact_sets
        ) / len(exact_sets)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1          # more probes, no worse recall
    assert r4 == 1.0         # nprobe == k clusters -> exhaustive == exact


def test_ivf_search_survives_zero_norm_vectors(spark, tmp_path):
    """Review-found defect, pinned: under the session's ANSI mode a
    zero-norm corpus or query vector made search_ivf raise DIVIDE_BY_ZERO
    mid-scoring (every other similarity path already try_divides). The
    degenerate vector must instead score NULL and never reach a top-k."""
    from beeper_matric_etl_tool_spark.ext import similarity_index as ivf

    rows = [(i, [float(i + d) for d in range(4)], ) for i in range(1, 9)]
    rows.append((0, [0.0, 0.0, 0.0, 0.0]))  # zero-norm vector, id 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf0")
    ivf.build_ivf_index(emb, path, k=2, iterations=2)
    got = ivf.search_ivf(spark, path, emb, k=3, nprobe=2).collect()
    assert got  # searched without raising
    # the zero vector's pairs carry NULL scores -> it never outranks a
    # finite-scored neighbor into a full top-k
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        finite = [r for r in rs if r.cosine_ppm is not None]
        nulls = [r for r in rs if r.cosine_ppm is None]
        for rn in nulls:
            assert all(rf.rank < rn.rank for rf in finite)


def test_asof_join_null_payload_semantics(spark):
    """Review-found defect, pinned: a NULL column in the LATEST state row
    must surface as NULL (not resurrect an older row's value), and
    multi-column payloads must never stitch columns from different rows."""
    from beeper_matric_etl_tool_spark.operators.asof import asof_join

    events = spark.createDataFrame(
        [("u", 40, "e40")], "user_id string, ts long, event_id string"
    )
    state = spark.createDataFrame(
        [("u", 10, "a1", "b1"), ("u", 30, "a3", None)],
        "user_id string, ts long, x string, y string",
    )
    out = asof_join(events, state, on=["user_id"], events_ts="ts", state_ts="ts",
                    payload=["x", "y"]).collect()[0]
    assert out.x == "a3" and out.y is None  # the t=30 row, verbatim — not (a3, b1)


def test_kernels_on_empty_inputs(spark):
    """Operators must degrade to empty/identity on empty frames — at 100 TB
    an empty partition, an empty delta batch, and an empty probe set are
    routine inputs, not edge cases."""
    from beeper_matric_etl_tool_spark.operators.asof import asof_join
    from beeper_matric_etl_tool_spark.operators.dedup import latest_by_key_agg

    empty_ev = spark.createDataFrame([], "event_id string, seq int, body string")
    assert latest_by_key(empty_ev, ["event_id"], [F.col("seq").desc()]).count() == 0
    assert latest_by_key_agg(empty_ev, ["event_id"], ["seq"]).count() == 0

    existing = spark.createDataFrame([("k1", "v")], "k string, v string")
    empty_inc = spark.createDataFrame([], "k string, v string")
    merged = merge_upsert(existing, empty_inc, keys=["k"])
    assert [(r.k, r.v, r.action) for r in merged.collect()] == [("k1", "v", "keep")]
    # and the mirror: empty existing, all inserts
    merged2 = merge_upsert(empty_inc, existing, keys=["k"])
    assert [(r.k, r.action) for r in merged2.collect()] == [("k1", "insert")]

    emb = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<float>")
    no_queries = emb.filter("vec_id < 0")
    assert xsim.cosine_topk(no_queries, emb, k=3).count() == 0
    # the matmul scorer degrades identically (empty probe matrix → empty
    # relation with the contracted schema, no numpy blowup)
    empty_scored = xsim.scored_pairs_matmul(no_queries, emb)
    assert empty_scored.count() == 0
    assert [f.name for f in empty_scored.schema.fields] == [
        "query_id", "neighbor_id", "cosine_ppm",
    ]

    events = spark.createDataFrame([("u", 10, "e")], "user_id string, ts long, event_id string")
    no_state = spark.createDataFrame([], "user_id string, ts long, sval string")
    left = asof_join(events, no_state, on=["user_id"], events_ts="ts", state_ts="ts",
                     payload=["sval"])
    assert [(r.event_id, r.sval) for r in left.collect()] == [("e", None)]
    inner = asof_join(events, no_state, on=["user_id"], events_ts="ts", state_ts="ts",
                      payload=["sval"], how="inner")
    assert inner.count() == 0


def test_scored_pairs_matmul_probe_cap_and_zero_norm(spark):
    """API hazards, pinned: (a) an oversized probe set must raise before the
    driver materializes it — passing the corpus as probes is a mis-call, not
    an OOM; (b) a zero-norm quantized vector (all components < 2^-16) makes
    the pair 0/0, which must surface as NULL cosine_ppm — matching the lazy
    pairwise path and the SQL oracle — never an undefined int64."""
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="max_probes"):
        xsim.scored_pairs_matmul(emb, emb, max_probes=3).count()

    zero = spark.createDataFrame(
        # vec 1 quantizes to (0, 0): floor(2^-17 * 2^16) = 0 per component
        [(0, [1.0, 0.5]), (1, [2.0 ** -17, 2.0 ** -17])],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.query_id, r.neighbor_id): r.cosine_ppm
        for r in xsim.scored_pairs_matmul(zero, zero).collect()
    }
    assert got[(0, 1)] is None and got[(1, 0)] is None
    # the lazy pairwise path agrees: 0/0 → NaN → NULL on the long cast
    lazy = xsim.cosine_topk(zero, zero, k=1).collect()
    assert all(r.cosine_ppm is None for r in lazy)


def test_assign_clusters_id_type_contract(spark):
    """The mapInPandas schema derives from the input: string ids round-trip
    exactly; an unsupported id type raises upfront with a clear message."""
    from beeper_matric_etl_tool_spark.ext.clustering import assign_clusters

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "cluster_id long, centroid array<float>"
    )
    named = spark.createDataFrame(
        [("a", [0.1, 0.2]), ("b", [9.0, 11.0])], "doc string, embedding array<float>"
    )
    got = {r.doc: r.cluster_id for r in assign_clusters(named, cents, id_col="doc").collect()}
    assert got == {"a": 0, "b": 1}

    doubled = named.select("doc", F.col("embedding").cast("array<double>").alias("embedding"))
    got2 = {r.doc: r.cluster_id for r in assign_clusters(doubled, cents, id_col="doc").collect()}
    assert got2 == got

    bad = spark.createDataFrame([(1.5, [0.0, 0.0])], "doc double, embedding array<float>")
    with pytest.raises(ValueError, match="unsupported id column type"):
        assign_clusters(bad, cents, id_col="doc")


def test_keyset_tuple_cursor_does_not_skip_ties(spark):
    """Review-found hazard, pinned: paging with the scalar cursor
    (order_col < before) drops rows tied at the page boundary's order
    value; the tuple form (order, tie) < (before, before_tie) pages
    through ties losslessly."""
    from beeper_matric_etl_tool_spark.operators.pagination import keyset_page

    # five rows, three tied at ts=100
    rows = [(1, 100), (2, 100), (3, 100), (4, 90), (5, 80)]
    df = spark.createDataFrame(rows, "event_id long, ts long")
    page1 = keyset_page(df, order_col="ts", tie_col="event_id", limit=2)
    p1 = [(r.ts, r.event_id) for r in page1.collect()]
    assert p1 == [(100, 3), (100, 2)]  # newest first, tie desc
    last_ts, last_id = p1[-1]
    page2 = keyset_page(
        df, order_col="ts", tie_col="event_id", limit=2,
        before=F.lit(last_ts), before_tie=F.lit(last_id),
    )
    p2 = [(r.ts, r.event_id) for r in page2.collect()]
    assert p2 == [(100, 1), (90, 4)]  # the remaining tie row is NOT skipped
    # the scalar cursor (reference API shape) drops the tied row — the
    # documented reason the tuple form exists
    scalar2 = keyset_page(df, order_col="ts", tie_col="event_id", limit=2,
                          before=F.lit(last_ts))
    assert [(r.ts, r.event_id) for r in scalar2.collect()] == [(90, 4), (80, 5)]
    with pytest.raises(ValueError, match="before_tie requires before"):
        keyset_page(df, order_col="ts", tie_col="event_id", before_tie=F.lit(1))


def test_kmeans_carries_empty_clusters_forward(spark):
    """Review-found hazard, pinned: a cluster that loses every member must
    keep its previous centroid, not vanish — downstream IVF layouts are
    built on 'k coarse partitions'. Duplicate seed vectors force the empty
    cluster: both seeds are identical, so one of them captures every
    point and the other goes empty on the first update."""
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans

    rows = [(0, [5.0, 5.0]), (1, [5.0, 5.0]), (2, [5.1, 5.0]), (3, [4.9, 5.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assignments, centroids = kmeans(emb, k=2, iterations=2)
    assert centroids.count() == 2  # the emptied cluster survived
    assert assignments.count() == 4


def test_keyed_update_rejects_bucket_layout_mismatch(spark, tmp_path):
    """Review-found hazard, pinned: calling keyed_update with an n_buckets
    that disagrees with the layout the table was written with must raise —
    the old behavior pruned to the WRONG partitions and silently left the
    real rows stale (or half-updated when one key happened to match)."""
    from beeper_matric_etl_tool_spark import sinks

    target = str(tmp_path / "bucketed")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string"
    )
    sinks.partitioned_upsert(
        spark, target, base, lambda ex, b: b if ex is None else ex.unionByName(b),
        keys=["k"], n_buckets=16,
    )
    updates = spark.createDataFrame([(3, "new3"), (17, "new17")], "k long, v string")
    with pytest.raises(ValueError, match="bucket layout"):
        sinks.keyed_update(spark, target, updates, keys=["k"], n_buckets=8)
    # the matching layout still works
    changed = sinks.keyed_update(spark, target, updates, keys=["k"], n_buckets=16)
    assert changed == 2


def test_asof_join_rejects_unknown_how(spark):
    """Review-found hazard, pinned: an unsupported how (full / typo'd
    'Inner') must raise instead of silently behaving as a left join."""
    from beeper_matric_etl_tool_spark.operators.asof import asof_join

    ev = spark.createDataFrame([("u", 40, "e")], "user_id string, ts long, event_id string")
    st = spark.createDataFrame([("u", 10, "a")], "user_id string, ts long, x string")
    for bad in ("full", "Inner", "left_outer"):
        with pytest.raises(ValueError, match="asof_join"):
            asof_join(ev, st, on=["user_id"], events_ts="ts", state_ts="ts",
                      payload=["x"], how=bad)


def test_latest_by_key_agg_quotes_awkward_column_names(spark):
    """Review-found hazard, pinned: interpolated column names are
    backquoted, so hyphens / keywords / dotted names survive the expr."""
    from beeper_matric_etl_tool_spark.operators.dedup import latest_by_key_agg

    df = spark.createDataFrame(
        [("k", 1, "old"), ("k", 2, "new")],
        ["key", "last-updated", "order"],  # hyphen + SQL keyword
    )
    out = latest_by_key_agg(df, keys=["key"], max_order_cols=["last-updated"]).collect()
    assert len(out) == 1 and out[0]["order"] == "new"


def test_lsh_banding_guards_fire(spark):
    """Review-found silent degradations, pinned loudly:
    - hyperplane_bands raises when n_bands doesn't divide the plane count
      (a floored width would exclude trailing planes from every band)
    - lsh_candidate_pairs validates the ACTUAL signature length per row
      even when num_hashes isn't passed (the guard used to be opt-in)
    - knn_suite refuses use_arrow under the matmul scorer instead of
      silently ignoring it."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j " * 4), (2, "a b c d e f g h i j " * 4)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="must divide"):
        xsim.hyperplane_bands(F.col("embedding"), planes=xsim.lsh_planes(18), n_bands=4)

    sigs = xdedup.minhash_signatures(df, num_hashes=32)
    bad = xdedup.lsh_candidate_pairs(sigs, bands=7)  # 7 does not divide 32
    with pytest.raises(Exception, match="must divide"):
        bad.collect()
    # the dividing config still works end-to-end
    ok = xdedup.lsh_candidate_pairs(sigs, bands=8).collect()
    assert [(r.id_a, r.id_b) for r in ok] == [(1, 2)]

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="use_arrow"):
        xsim.knn_suite(emb, emb, scoring="matmul", use_arrow=True, partition_col="vec_id")


def test_scaled_planes_sizing_rule(spark, sf_dir):
    """scaled_planes_for encodes the log2(n)+margin band-width rule (the
    linear-candidate regime the scale probe measures) and its output is
    directly consumable by hyperplane_bands with the same n_bands."""
    from beeper_matric_etl_tool_spark.ext import similarity as xsim
    from beeper_matric_etl_tool_spark.sources.tables import table

    # 1M docs, 4 bands, 4 margin bits -> (20+4)*4 = 96 planes
    planes = xsim.scaled_planes_for(1_000_000, n_bands=4, margin_bits=4)
    assert len(planes) == 96
    assert all(len(p) == 64 and set(p) <= {-1, 1} for p in planes)
    # deterministic: config, not RNG state
    assert planes == xsim.scaled_planes_for(1_000_000, n_bands=4, margin_bits=4)
    # monotone: a bigger corpus never gets narrower bands
    assert len(xsim.scaled_planes_for(10_000_000)) >= len(planes)
    # consumable end-to-end
    emb = table(spark, sf_dir, "embeddings").limit(20)
    banded = emb.select(
        "vec_id", xsim.hyperplane_bands(F.col("embedding"), planes=planes, n_bands=4).alias("b")
    )
    assert banded.count() == 20


def test_near_dup_embeddings_default_is_sized_banding(spark):
    """The PRODUCTION embedding near-dup entry point applies the
    scaled_planes_for sizing rule BY DEFAULT (round-5 verdict gap: the
    rule existed but no entry point used it):

    - the chosen width is bits_per_band = ceil(log2 n) + margin per band;
    - on a corpus with planted exact/near-identical duplicates the sized
      funnel finds exactly the planted pairs — the same verified set the
      oracle-tier fixed-width funnel yields (funnel equivalence where
      both have recall: cosine→1 pairs collide under ANY band width);
    - every verified pair is a member of its own candidate set (the
      verify tier never invents pairs).
    """
    import math
    import random

    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(60):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    # planted duplicates: exact copy of vec 0 and of vec 1
    rows.append((1000, list(rows[0][1])))
    rows.append((1001, list(rows[1][1])))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n = len(rows)

    planes, n_docs, got_dim = xsim.corpus_sized_planes(corpus, n_bands=4, margin_bits=4)
    assert (n_docs, got_dim) == (n, dim)
    bits = len(planes) // 4
    assert bits == math.ceil(math.log2(n)) + 4  # the sizing rule, verbatim

    got = xsim.near_dup_embeddings(corpus, threshold=0.85)
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert got_pairs == {(0, 1000), (1, 1001)}

    # funnel equivalence with the fixed oracle-tier width on planted dups
    fixed = xsim.verify_cosine_pairs(
        xsim.banded_candidate_pairs(
            corpus, planes=xsim.lsh_planes(16, dim=dim), n_bands=4
        ),
        xsim.quantized_norms(corpus),
        threshold=0.85,
    )
    assert {(r.id_a, r.id_b) for r in fixed.collect()} == got_pairs

    # verified ⊆ candidates (verify=False exposes the candidate tier)
    cand = {
        (r.id_a, r.id_b)
        for r in xsim.near_dup_embeddings(corpus, verify=False).collect()
    }
    assert got_pairs <= cand

    # supplying (n_docs, dim) estimates skips the sizing job but chooses
    # the identical config — the 100 TB catalog-stats path
    est = xsim.near_dup_embeddings(corpus, n_docs=n, dim=dim, threshold=0.85)
    assert {(r.id_a, r.id_b) for r in est.collect()} == got_pairs

    # empty/None-vector corpora fail loudly instead of silently sizing
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim"):
        xsim.corpus_sized_planes(empty)


def test_chunk_documents_windows_cover_and_overlap(spark):
    """Document chunking: windows cover every token, consecutive chunks
    share exactly overlap_tokens, the tail partial chunk is kept, and the
    whole op is reconstruction-exact (pure column algebra, no shuffle)."""
    from beeper_matric_etl_tool_spark.ext.text import chunk_documents

    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "only three tokens")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=10, overlap_tokens=3).collect()
    )
    doc1 = [r for r in rows if r[0] == 1]
    # stride 7 over 25 tokens: starts 0,7,14,21 (21 <= 25-3=22)
    assert [r[2] for r in doc1] == [0, 7, 14, 21]
    assert [r[1] for r in doc1] == [0, 1, 2, 3]
    # full coverage, exact overlap, correct tail
    for _, _, start, text, n in doc1:
        chunk = text.split(" ")
        assert chunk == words[start : start + 10]
        assert n == len(chunk)
    assert doc1[-1][4] == 4  # tail partial: tokens 21..24
    # a doc shorter than one chunk yields exactly one whole-doc chunk
    doc2 = [r for r in rows if r[0] == 2]
    assert len(doc2) == 1 and doc2[0][3] == "only three tokens" and doc2[0][4] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=5, overlap_tokens=5)
    # negative overlap would silently LOSE the gap tokens between windows
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=5, overlap_tokens=-1)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0, overlap_tokens=0)
    # NULL text -> zero chunk rows, never a phantom full-token-count chunk
    with_null = spark.createDataFrame(
        [(3, None)], "doc_id long, text string"
    )
    assert chunk_documents(with_null, chunk_tokens=5, overlap_tokens=1).count() == 0


def test_remove_boilerplate_paragraphs(spark):
    """Corpus-level boilerplate removal (ext/text.py): a footer shared by
    >= min_docs docs is removed from every carrier with original
    paragraph ORDER preserved; document frequency (not occurrence count)
    is the threshold — a paragraph repeated 3x inside ONE doc stays; a
    doc that is pure boilerplate comes back as '' rather than vanishing;
    min_docs=1 is refused."""
    import pytest as _pytest

    from beeper_matric_etl_tool_spark.ext.text import (
        remove_boilerplate_paragraphs,
    )

    footer = "all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"alpha body one\n\n{footer}\n\nalpha body two"),
            (2, f"{footer}\n\nbeta body"),
            (3, "gamma body\n\ngamma body\n\ngamma body"),  # within-doc only
            (4, footer),  # pure boilerplate -> emptied, not dropped
            (5, "delta body stands alone"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_paragraphs(docs, min_docs=2).collect()
    }
    assert len(out) == 5
    # order preserved around the removed middle paragraph
    assert out[1]["cleaned_text"] == "alpha body one\n\nalpha body two"
    assert out[1]["n_paras"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["cleaned_text"] == "beta body"
    # df-threshold: 3 copies inside one doc are NOT boilerplate
    assert out[3]["n_removed"] == 0 and out[3]["cleaned_text"].count("gamma") == 3
    assert out[4]["cleaned_text"] == "" and out[4]["n_removed"] == 1
    assert out[5]["cleaned_text"] == "delta body stands alone"

    with _pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_paragraphs(docs, min_docs=1)


def test_remove_duplicate_spans(spark):
    """Corpus-level duplicate-SPAN removal (ext/text.py): any k-token
    window with >= min_count total occurrences is cut; overlapping hot
    windows merge into maximal spans; WITHIN-doc repeats count toward
    the floor (unlike the boilerplate rule's distinct-doc threshold);
    keep_one=True exempts the lowest-(doc,pos) occurrence; an emptied
    doc comes back as '' and the k/min_count guards refuse degenerate
    configs."""
    import pytest as _pytest

    from beeper_matric_etl_tool_spark.ext.text import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b x1 x2 x3 x4 x5 c d"),
            (2, "x1 x2 x3 x4 x5 e f g h"),
            (3, "p q r s t u v w"),
            (4, "r1 r2 r3 r4 r5 mid r1 r2 r3 r4 r5"),
            (5, "x1 x2 x3 x4 x5"),  # nothing but the hot span -> ''
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in remove_duplicate_spans(docs, k=5).collect()
    }
    assert len(out) == 5
    assert out[1]["cleaned_text"] == "a b c d"
    assert out[1]["n_tokens"] == 9 and out[1]["n_removed"] == 5
    assert out[2]["cleaned_text"] == "e f g h"
    assert out[3]["cleaned_text"] == "p q r s t u v w"
    assert out[3]["n_removed"] == 0
    # within-doc repeat crosses the occurrence floor; the two copies are
    # DISJOINT hot spans and the bridging windows (unique) survive as
    # the 'mid' gap between them
    assert out[4]["cleaned_text"] == "mid" and out[4]["n_removed"] == 10
    assert out[5]["cleaned_text"] == "" and out[5]["n_removed"] == 5

    kept = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(docs, k=5, keep_one=True).collect()
    }
    # canonical occurrence = argmin (doc_id, pos): doc 1's copy survives
    assert kept[1]["cleaned_text"] == "a b x1 x2 x3 x4 x5 c d"
    assert kept[2]["cleaned_text"] == "e f g h"
    assert kept[4]["cleaned_text"] == "r1 r2 r3 r4 r5 mid"
    assert kept[5]["cleaned_text"] == ""

    with _pytest.raises(ValueError, match="k=1"):
        remove_duplicate_spans(docs, k=1)
    with _pytest.raises(ValueError, match="min_count=1"):
        remove_duplicate_spans(docs, k=5, min_count=1)


def test_normalize_text(spark):
    """Canonicalization: control chars stripped, curly quotes/dashes
    ASCII-ized, space runs collapsed, line edges trimmed, 3+ newlines
    -> paragraph break - and the whole map is idempotent."""
    from beeper_matric_etl_tool_spark.ext.text import normalize_text

    raw = (
        '“Hello” — it’s\x07 a\ttest  with   runs \n'
        + '  indented line \n\n\n\n next para\x00'
    )
    docs = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    out = docs.select(normalize_text("text").alias("t")).first()["t"]
    expected = (
        '"Hello" - it\'s a test with runs\nindented line\n\nnext para'
    )
    assert out == expected
    twice = docs.select(
        normalize_text(normalize_text("text")).alias("t")
    ).first()["t"]
    assert twice == out


def test_normalize_text_sql_twin_parity(spark):
    """normalize_text_sql (the DuckDB twin the quality_filter oracle
    replays) produces byte-identical output to the Spark chain on every
    canonicalization case — control chars, soft hyphen, curly quotes and
    dashes, NBSP, tab/space runs, line-edge trims, paragraph collapse,
    and the already-clean identity case."""
    import duckdb

    from beeper_matric_etl_tool_spark.ext.text import (
        normalize_text,
        normalize_text_sql,
    )

    cases = [
        '“Hello” — it’s\x07 a\ttest  with   runs \n  indented \n\n\n\n next\x00',
        'soft­hyphen and non breaking  spaces',
        '‘single’ “double” – en — em',
        '   leading and trailing   ',
        'already clean single spaced text',
        'tabs\t\tand\tmixed \t whitespace',
        'a\nb\n\nc\n\n\nd',
        '',
    ]
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    got_spark = {
        r["i"]: r["t"]
        for r in docs.select("i", normalize_text("text").alias("t")).collect()
    }
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    got_duck = dict(
        con.sql(
            f"SELECT i, {normalize_text_sql('text')} AS t FROM docs"
        ).fetchall()
    )
    assert got_spark == got_duck


def test_detect_language_fixed_preference_argmax(spark):
    """language_scores/detect_language (the reusable language-ID pair
    doc_profile's oracle replays): per-inventory hits, argmax with
    inventory-order tie preference — ties and all-zero rows resolve to
    the earliest code."""
    from beeper_matric_etl_tool_spark.ext.text import (
        detect_language,
        language_scores,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of that house"),
            (2, "el perro que corre por la calle y el gato"),
            (3, "le chat et le chien pour la maison"),
            (4, "der hund und die katze von das haus mit"),
            (5, "xxx yyy zzz"),                 # zero hits anywhere -> en
            (6, "de de de"),                    # es/fr tie (de in both) -> es
        ],
        "doc_id long, text string",
    )
    toks = tokens("text")
    out = {
        r["doc_id"]: r["lang"]
        for r in docs.select(
            "doc_id", detect_language(toks).alias("lang")
        ).collect()
    }
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "en", 6: "es"}
    hits = docs.select(
        "doc_id",
        *[c.alias(k) for k, c in language_scores(toks).items()],
    )
    r6 = {r["doc_id"]: (r["es"], r["fr"]) for r in hits.collect()}
    assert r6[6] == (3, 3)  # genuine tie, preference order decides


def test_detect_language_degenerate_inventories(spark):
    """detect_language's extension point: a single-language inventory
    returns that code unconditionally; an empty inventory raises."""
    import pytest as _pytest

    from beeper_matric_etl_tool_spark.ext.text import detect_language, tokens

    docs = spark.createDataFrame([(1, "whatever text")], "i long, text string")
    out = docs.select(
        detect_language(tokens("text"), {"xx": ("zz",)}).alias("lang")
    ).first()["lang"]
    assert out == "xx"
    with _pytest.raises(ValueError, match="empty language inventory"):
        detect_language(tokens("text"), {})


def test_ngram_duplication_scores_planted(spark):
    """The scoring sibling of remove_duplicate_spans on a hand-checkable
    corpus: a shared 4-token sentence marks its windows duplicated in
    every carrier; a within-doc double-paste counts under the
    total-occurrence floor; a unique doc scores 0; a doc shorter than k
    emits (0, 0, NULL). Validation raises on degenerate k/min_count."""
    import pytest as _pytest

    from beeper_matric_etl_tool_spark.ext.text import ngram_duplication_scores

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            # docs 1, 2 share the 4-gram → its single window is hot in both
            (1, shared + " unique one tail words here"),
            (2, shared + " other disjoint closing tokens now"),
            # doc 3: the same 4-gram pasted twice WITHIN one doc
            (3, shared + " " + shared),
            # doc 4: all-unique text of the same length
            (4, "epsilon zeta eta theta iota kappa lam mu"),
            # doc 5: shorter than k → no windows
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"], r["dup_ppm"])
        for r in ngram_duplication_scores(docs, k=4, min_count=2).collect()
    }
    # doc 1: 9 tokens → 6 windows; only the leading shared window is hot
    assert out[1] == (6, 1, 166_666)
    assert out[2] == (6, 1, 166_666)
    # doc 3: 8 tokens → 5 windows; windows 1 and 5 are the shared 4-gram
    # (count 4 corpus-wide ≥ 2); the 3 straddling windows each occur
    # once... but window 2 'beta gamma delta alpha' also repeats NOWHERE
    assert out[3][0] == 5 and out[3][1] >= 2
    assert out[4] == (5, 0, 0)
    assert out[5] == (0, 0, None)
    with _pytest.raises(ValueError, match="k=1"):
        ngram_duplication_scores(docs, k=1)
    with _pytest.raises(ValueError, match="min_count=1"):
        ngram_duplication_scores(docs, k=4, min_count=1)


def test_audio_fingerprint_near_dup_pairs(spark):
    """Acoustic-fingerprint near-dup (the image-phash twin): a re-leveled
    variant (one halved sample window) is found with small positive
    hamming; an identical copy at hamming 0; a different slope family is
    NOT paired; non-WAV / NULL / too-short payloads dead-letter out of
    the banding. Spark hammings equal the NumPy reference exactly
    (integer energy/flux bins)."""
    import numpy as np
    import pytest

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    a = xmm.make_saw_wav(3300, seed=2)
    a_near = xmm.make_saw_wav(3300, seed=2, edit=(1022, 1622))
    b_far = xmm.make_saw_wav(3300, seed=4)
    rows = [
        (1, bytearray(a)), (2, bytearray(a_near)), (3, bytearray(b_far)),
        (4, bytearray(a)), (5, bytearray(b"definitely not audio data....")),
        (6, None),  # NULL payload — must dead-letter, not crash the task
        (7, bytearray(xmm.make_saw_wav(20, seed=0))),  # < 34 frames
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    # reference hammings straight off the decoded samples
    def ref_bits(payload):
        frames, _, _ = xmm._wav_samples(payload)
        return np.array(xmm._afp_of(frames.astype(np.int64).sum(axis=1)))

    ra, rn, rf = ref_bits(a), ref_bits(a_near), ref_bits(b_far)
    h_near = int((ra != rn).sum())
    assert 0 < h_near <= 12  # the planted edit is a NEAR duplicate
    assert int((ra != rf).sum()) > 12  # the other slope is genuinely far

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in xmm.audio_near_dup_pairs(
            df, max_hamming=12, bands=16, n_bits=64
        ).collect()
    }
    assert pairs[(1, 4)] == 0  # identical copy
    assert pairs[(1, 2)] == h_near == pairs[(2, 4)]
    # pristine negative + all three dead-letter rows stay out
    assert not any(x in p for p in pairs for x in (3, 5, 6, 7))
    assert set(pairs) == {(1, 4), (1, 2), (2, 4)}

    # signatures surface: identical clips -> identical bits; dead-letter
    # rows carry error + NULL bits (never enter banding)
    sigs = {r.doc_id: r for r in xmm.audio_fingerprint_bits(df, n_bits=64).collect()}
    assert sigs[1].bits == sigs[4].bits and len(sigs[1].bits) == 64
    assert sigs[1].n_frames == 3300 and sigs[1].sample_rate == 8000
    assert sigs[5].bits is None and "afp_error" in sigs[5].error
    assert sigs[6].bits is None and "null payload" in sigs[6].error
    assert sigs[7].bits is None and "too short" in sigs[7].error

    # stereo folds to mono by integer channel sum, exactly (a 2-channel
    # clip whose channels are both s has fingerprint of 2*s — same sign
    # structure as s, since every bin energy scales by 4)
    st = xmm.make_wav(3300, channels=2, seed=1)
    frames, _, ch = xmm._wav_samples(st)
    assert ch == 2
    got = xmm.audio_fingerprint_bits(
        spark.createDataFrame([(9, bytearray(st))], "doc_id long, payload binary"),
        n_bits=64,
    ).collect()[0]
    assert got.bits == list(
        np.array(xmm._afp_of(frames.astype(np.int64).sum(axis=1)))
    )

    # the pigeonhole recall guarantee is enforced, not assumed
    with pytest.raises(ValueError, match="bands"):
        xmm.audio_near_dup_pairs(df, max_hamming=16, bands=16).collect()


def test_video_hash_near_dup_pairs(spark):
    """Spatio-temporal video near-dup (the phash/afp triad completed): a
    temporally-local edit (one inverted column in frames [9, 18)) is
    found with small positive hamming; an identical copy at hamming 0; a
    different gradient family is NOT paired; non-AVI / NULL / too-short
    payloads dead-letter out of the banding. Spark hammings equal the
    NumPy reference exactly (integer luma grids on sampled frames)."""
    import numpy as np
    import pytest

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    a = xmm.make_gradient_avi(40, 16, 24, seed=2)
    a_near = xmm.make_gradient_avi(
        40, 16, 24, seed=2, invert_col=20, edit_frames=(9, 18)
    )
    b_far = xmm.make_gradient_avi(40, 16, 24, seed=4)
    rows = [
        (1, bytearray(a)), (2, bytearray(a_near)), (3, bytearray(b_far)),
        (4, bytearray(a)), (5, bytearray(b"definitely not a video......")),
        (6, None),  # NULL payload — must dead-letter, not crash the task
        (7, bytearray(xmm.make_gradient_avi(40, 16, 5, seed=0))),  # < 8 frames
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    # reference hammings straight off the decoded frames
    def ref_bits(payload):
        frames, _ = xmm._avi_frames(payload)
        return np.array(xmm._vhash_of(frames))

    ra, rn, rf = ref_bits(a), ref_bits(a_near), ref_bits(b_far)
    h_near = int((ra != rn).sum())
    assert 0 < h_near <= 12  # the planted edit is a NEAR duplicate
    assert int((ra != rf).sum()) > 12  # the other family is genuinely far

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in xmm.video_near_dup_pairs(
            df, max_hamming=12, bands=16, n_bits=64
        ).collect()
    }
    assert pairs[(1, 4)] == 0  # identical copy
    assert pairs[(1, 2)] == h_near == pairs[(2, 4)]
    # pristine negative + all three dead-letter rows stay out
    assert not any(x in p for p in pairs for x in (3, 5, 6, 7))
    assert set(pairs) == {(1, 4), (1, 2), (2, 4)}

    # signatures surface: identical videos -> identical bits; dead-letter
    # rows carry error + NULL bits (never enter banding)
    sigs = {r.doc_id: r for r in xmm.video_hash_bits(df, n_bits=64).collect()}
    assert sigs[1].bits == sigs[4].bits and len(sigs[1].bits) == 64
    assert sigs[1].n_video_frames == 24
    assert sigs[1].width == 40 and sigs[1].height == 16
    assert sigs[5].bits is None and "vhash_error" in sigs[5].error
    assert sigs[6].bits is None and "null payload" in sigs[6].error
    assert sigs[7].bits is None and "too short" in sigs[7].error

    # the edit is TEMPORALLY local: only bit groups of sampled frames
    # inside [9, 18) (sampled indices 10, 13, 16 -> groups k=3,4,5) flip
    flipped_groups = {int(pos) // 8 for pos in np.nonzero(ra != rn)[0]}
    assert flipped_groups <= {3, 4, 5} and flipped_groups

    # the pigeonhole recall guarantee is enforced, not assumed
    with pytest.raises(ValueError, match="bands"):
        xmm.video_near_dup_pairs(df, max_hamming=16, bands=16).collect()


def test_video_frame_sampling_composes_with_image_plane(spark):
    """video_sample_frames emits REAL standalone BMP payloads at the
    temporal-center indices: round-trippable by the BMP codec
    (byte-identical pixels to the source frame), composable with
    image_perceptual_bits, short videos emit every frame once, and
    undecodable payloads dead-letter as a single NULL-frame row."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    avi = xmm.make_gradient_avi(40, 16, 24, seed=1, fps=12)
    rows = [
        (1, bytearray(avi)),
        (2, bytearray(xmm.make_gradient_avi(24, 12, 3, seed=0))),  # short
        (3, bytearray(b"not a RIFF payload at all...")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = xmm.video_sample_frames(df, n_samples=8).collect()

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    # doc 1: the 8 temporal-center frames, at exact integer indices
    got1 = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in got1] == [1, 4, 7, 10, 13, 16, 19, 22]
    assert all(r.width == 40 and r.height == 16 for r in got1)
    # time_ms = frame_idx * usec_per_frame // 1000 at 12 fps
    assert [r.time_ms for r in got1] == [f * 83333 // 1000 for f in
                                         [1, 4, 7, 10, 13, 16, 19, 22]]
    # sampled payloads are REAL BMPs, byte-identical pixels to the source
    src_frames, _ = xmm._avi_frames(avi)
    for r in got1:
        assert np.array_equal(
            xmm._bmp_pixels(bytes(r.payload)), src_frames[r.frame_idx]
        )

    # ...and compose with the image plane directly
    frames_df = spark.createDataFrame(
        [(int(r.frame_idx), bytearray(r.payload)) for r in got1],
        "doc_id long, payload binary",
    )
    psigs = xmm.image_perceptual_bits(frames_df, n_bits=64).collect()
    assert all(s.error is None and len(s.bits) == 64 for s in psigs)

    # doc 2: 3 frames < 8 samples -> every frame exactly once
    assert sorted(r.frame_idx for r in by_doc[2]) == [0, 1, 2]
    # doc 3: one dead-letter row, NULL frame fields
    (dl,) = by_doc[3]
    assert dl.payload is None and dl.frame_idx is None
    assert "video_error" in dl.error


def test_curate_media_funnel(spark):
    """The media curation funnel: JVM magic dispatch, decode gate, floor
    gates, per-modality near-dup keep-one-per-cluster — every input row
    present exactly once with an explicit decision, cluster lineage on
    every gate survivor, and the video-floor guard enforced."""
    import pytest

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    img = xmm.make_gradient_bmp(36, 32, seed=1)
    img_near = xmm.make_gradient_bmp(36, 32, seed=1, invert_col=18)
    wav = xmm.make_saw_wav(3300, seed=2)
    avi = xmm.make_gradient_avi(40, 16, 24, seed=3)
    rows = [
        (1, bytearray(img)),
        (2, bytearray(img_near)),            # near-dup of 1 -> dropped
        (3, bytearray(img)),                 # exact copy of 1 -> dropped
        (4, bytearray(xmm.make_gradient_bmp(8, 6, seed=0))),   # below floor
        (5, bytearray(wav)),                 # singleton audio -> kept
        (6, bytearray(xmm.make_saw_wav(20, seed=0))),          # too short
        (7, bytearray(avi)),                 # singleton video -> kept
        (8, bytearray(xmm.make_gradient_avi(40, 16, 5, seed=0))),  # short
        (9, bytearray(b"not media at all")),
        (10, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in xmm.curate_media(
        df, min_width=16, min_height=8, sig_bits=64
    ).collect()}

    assert len(out) == len(rows)  # audit discipline: nothing vanishes
    assert out[1].decision == "keep" and out[1].cluster_id == 1
    assert out[2].decision == "drop:near_dup" and out[2].cluster_id == 1
    assert out[3].decision == "drop:near_dup" and out[3].cluster_id == 1
    assert out[4].decision == "drop:below_floor" and out[4].cluster_id is None
    assert (out[4].width, out[4].height) == (8, 6)
    assert out[5].decision == "keep" and out[5].n_frames == 3300
    assert out[6].decision == "drop:undecodable"  # below the hash's floor
    assert out[7].decision == "keep" and out[7].n_frames == 24
    assert (out[7].width, out[7].height) == (40, 16)
    assert out[8].decision == "drop:undecodable"
    assert out[9].decision == "drop:undecodable"
    assert out[9].modality == "unknown" and out[10].modality == "unknown"
    assert {r.modality for r in out.values()} == {
        "image", "audio", "video", "unknown"
    }
    assert all(r.decision in xmm.MEDIA_DECISIONS for r in out.values())
    # dead-letter taxonomy: WHY each undecodable failed, NULL elsewhere
    assert out[6].error_class == "too_short"   # 20-frame WAV
    assert out[8].error_class == "too_short"   # 5-frame AVI
    assert out[9].error_class == "unknown_container"
    assert out[10].error_class == "unknown_container"  # NULL payload
    assert all(
        (r.error_class is None) == (r.decision != "drop:undecodable")
        for r in out.values()
    )
    assert all(
        r.error_class in xmm.MEDIA_ERROR_CLASSES
        for r in out.values() if r.error_class is not None
    )

    # audio floor above the hash floor -> below_floor, not undecodable
    out2 = {r.doc_id: r for r in xmm.curate_media(
        df, min_width=16, min_height=8, min_audio_frames=5000, sig_bits=64
    ).collect()}
    assert out2[5].decision == "drop:below_floor"

    # the video floor cannot be set below the hash's temporal-sample floor
    with pytest.raises(ValueError, match="min_video_frames"):
        xmm.curate_media(df, min_video_frames=4)

    # the image hash method is validated up front (the funnel must be
    # composable with an index whose frozen method it matches)
    with pytest.raises(ValueError, match="image_method"):
        xmm.curate_media(df, image_method="phash9000")


def test_curate_media_cross_modal_gate(spark):
    """The re-encoded-still gate: with cross_modal=True a video whose
    sampled frames match a floor-surviving image drops as
    drop:near_dup_cross (one decode — the fused video stage), a fresh
    video keeps, images never drop against frames, within-modality
    precedence holds, and the default funnel is unchanged."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    still = xmm.make_gradient_bmp(36, 32, seed=1)
    small_still = xmm.make_bmp(8, 6, seed=0)
    frame_px = xmm._bmp_pixels(still)[:, :, :3]
    small_px = xmm._bmp_pixels(small_still)[:, :, :3]
    video_of_still = xmm._encode_avi(np.stack([frame_px] * 24), fps=12)
    video_of_small = xmm._encode_avi(np.stack([small_px] * 24), fps=12)
    fresh_video = xmm.make_gradient_avi(40, 16, 24, seed=3)
    rows = [
        # -1 exercises the floor-division frame-id decode (SQL DIV
        # truncates toward zero — the r11 review caught frames of a
        # negative-id video attributing to doc 0); it is an exact dup
        # of 2 and 6, so the clique's canonical is -1
        (-1, bytearray(video_of_still)),
        (1, bytearray(still)),
        (2, bytearray(video_of_still)),      # re-encoded still of 1
        (3, bytearray(fresh_video)),         # fresh -> keep
        (4, bytearray(small_still)),         # below image floor
        (5, bytearray(video_of_small)),      # still of a FLOOR-DROPPED image
        (6, bytearray(video_of_still)),      # exact dup of 2 (within-video)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in xmm.curate_media(
        df, min_width=16, min_height=8, sig_bits=64, cross_modal=True
    ).collect()}
    assert out[1].decision == "keep"           # images never drop vs frames
    # the clique canonical (-1) demotes via the cross gate — attributed
    # to the RIGHT (negative) doc, not to a truncation neighbor
    assert out[-1].decision == "drop:near_dup_cross"
    assert out[3].decision == "keep"
    assert out[4].decision == "drop:below_floor"
    # a still of a floor-dropped image is NOT redundant with the kept
    # image plane — it survives the cross gate
    assert out[5].decision == "keep"
    # within-modality precedence: the exact dups stay drop:near_dup
    assert out[2].decision == "drop:near_dup" and out[2].cluster_id == -1
    assert out[6].decision == "drop:near_dup" and out[6].cluster_id == -1
    assert all(r.decision in xmm.MEDIA_DECISIONS for r in out.values())

    # the signature relation carries the fused frame hashes (video rows)
    decs, sigs = xmm.curate_media_with_signatures(
        df, min_width=16, min_height=8, sig_bits=64, cross_modal=True
    )
    s = {r.doc_id: r for r in sigs.collect()}
    assert s[2].frame_bits is not None and len(s[2].frame_bits) == 8
    assert all(len(fb) == 64 for fb in s[2].frame_bits)
    assert s[1].frame_bits is None  # image rows carry NULL
    # fused frame hashes are bit-identical to the image plane's hash of
    # the same pixels (the still's own signature)
    assert [list(b) for b in s[2].frame_bits] == [list(s[1].bits)] * 8

    # default funnel (no cross gate): the still clique's canonical keeps
    out0 = {r.doc_id: r for r in xmm.curate_media(
        df, min_width=16, min_height=8, sig_bits=64
    ).collect()}
    assert out0[-1].decision == "keep"

    # decode-free downstream: the cross-modal decisions plan reads the
    # per-leg checkpoints, never a second decode stage
    plan = (
        xmm.curate_media(df, min_width=16, min_height=8, sig_bits=64,
                         cross_modal=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan


def test_image_hash_resize_stability_two_sided(spark):
    """The image plane across RESOLUTIONS, stated honestly from both
    sides: for BAND-LIMITED content (smooth ramps — the natural-photo
    regime) the center-sampled integer-luma grid commutes with the
    engine's own nearest-neighbor resize, so a thumbnail hashes
    IDENTICALLY to its source (hamming 0 — `image_near_dup_pairs`
    catches cross-resolution copies with zero threshold budget); for
    content with energy above the grid's Nyquist (the planted mod-256
    gradients) downsampling ALIASES and the hashes diverge — the
    property is spectral, not magic, and the negative side pins that we
    don't overclaim it."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    def smooth_bmp(w, h, seed):
        # band-limited with a seed-positioned KINK: dHash reads only
        # horizontal structure, so x-monotonic ramps would all hash
        # identically — the |x - kink| fold gives each seed a distinct
        # comparison-sign pattern (measured cross-seed hamming >= 16)
        # while staying smooth enough to survive downsampling exactly
        x, y = np.arange(w), np.arange(h)
        kink = (seed + 1) * w // 5
        R = np.abs(x - kink) * 255 // max(w - 1, 1)
        B = x * 255 // max(w - 1, 1)
        G = (y * 255 // max(h - 1, 1))[:, None] * np.ones((1, w), dtype=np.int64)
        px = np.stack(
            [np.broadcast_to(B, (h, w)), G, np.broadcast_to(R, (h, w))], axis=2
        )
        return xmm._encode_bmp(px.astype(np.uint8))

    rows = [(i, bytearray(smooth_bmp(288, 256, i))) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    thumbs = xmm.resize_images(df, 36, 32).select(
        (F.col("doc_id") + 100).alias("doc_id"), "payload"
    )
    both = df.unionByName(thumbs)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in xmm.image_near_dup_pairs(both, max_hamming=16, bands=32).collect()
    }
    # each 8x-downsampled thumbnail pairs with its source within ONE
    # grid column (<= side = 16 bits at the 256-bit default: composed
    # sampling rounding can shift the kink across one sampled column,
    # flipping that column's comparisons — measured {0, 0, 16}), and
    # with nothing else: cross-seed distances sit at 48+ at this width
    assert set(pairs) == {(0, 100), (1, 101), (2, 102)}
    assert all(h <= 16 for h in pairs.values())
    pairs64 = {
        (r.id_a, r.id_b): r.hamming
        for r in xmm.image_near_dup_pairs(both, max_hamming=0, n_bits=64).collect()
    }
    assert pairs64 == {(0, 100): 0, (1, 101): 0, (2, 102): 0}

    # negative side: above-Nyquist content aliases under the same resize
    alias_rows = [(i, bytearray(xmm.make_gradient_bmp(360, 320, i)))
                  for i in range(4)]
    adf = spark.createDataFrame(alias_rows, "doc_id long, payload binary")
    athumbs = xmm.resize_images(adf, 36, 32).select(
        (F.col("doc_id") + 100).alias("doc_id"), "payload"
    )
    asigs = {
        r.doc_id: r.bits
        for r in xmm.image_perceptual_bits(adf.unionByName(athumbs)).collect()
    }
    hams = [
        sum(x != y for x, y in zip(asigs[i], asigs[i + 100])) for i in range(4)
    ]
    assert any(h > 15 for h in hams)  # aliasing genuinely breaks identity


def test_media_report_data_card(spark):
    """The media data card: per-modality decision counts + cluster-size
    histogram, exact integers, one row per (modality, metric, bucket) —
    and the identities a release-notes reader relies on hold (decision
    counts sum to the corpus, sum(size*n) = gate survivors)."""
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    img = xmm.make_gradient_bmp(36, 32, seed=1)
    rows = [
        (1, bytearray(img)),
        (2, bytearray(img)),                                   # dup of 1
        (3, bytearray(xmm.make_gradient_bmp(36, 32, seed=2))), # singleton
        (4, bytearray(xmm.make_bmp(8, 6, seed=0))),            # below floor
        (5, bytearray(xmm.make_saw_wav(3300, seed=2))),        # audio keep
        (6, bytearray(b"junk")),                               # unknown
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    decisions = xmm.curate_media(df, min_width=16, min_height=8, sig_bits=64)
    card = {
        (r.modality, r.metric, r.bucket): r.n
        for r in xmm.media_report(decisions).collect()
    }
    assert card[("image", "decision", "keep")] == 2
    assert card[("image", "decision", "drop:near_dup")] == 1
    assert card[("image", "decision", "drop:below_floor")] == 1
    assert card[("audio", "decision", "keep")] == 1
    assert card[("unknown", "decision", "drop:undecodable")] == 1
    # clusters: one of size 2 (docs 1+2), one singleton (doc 3)
    assert card[("image", "cluster_size", "2")] == 1
    assert card[("image", "cluster_size", "1")] == 1
    assert card[("audio", "cluster_size", "1")] == 1
    # identities: decisions sum to the corpus; sum(size*n) = survivors
    assert sum(
        n for (m, metric, b), n in card.items() if metric == "decision"
    ) == len(rows)
    assert sum(
        int(b) * n
        for (m, metric, b), n in card.items()
        if metric == "cluster_size"
    ) == 4  # docs 1, 2, 3, 5 passed the gates

    # dead-letter classes are an opt-in metric family (default card
    # unchanged — it is the driver-oracled shape)
    assert not any(metric == "error_class" for (_, metric, _) in card)
    card_e = {
        (r.modality, r.metric, r.bucket): r.n
        for r in xmm.media_report(
            decisions, include_error_classes=True
        ).collect()
    }
    assert card_e[("unknown", "error_class", "unknown_container")] == 1


def test_media_default_hamming_and_scaled_banding():
    """The width→threshold coupling and the corpus-sized banding rule:
    default thresholds scale with the signature width (a 256-bit edit
    flips ~4x the bits of its 64-bit form), capped at the pigeonhole
    bound; bands derive from a corpus estimate with an entropy floor on
    the band width, raising (never silently clamping) when the
    signature is too narrow for both recall and selectivity."""
    import pytest

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.dedup import scaled_bands_for

    # linear in width, floored at the classic 64-bit default of 12...
    assert xmm.default_media_hamming(64) == 12
    assert xmm.default_media_hamming(256) == 15
    # ...and capped at bands-1 (recall guarantee), released by more bands
    assert xmm.default_media_hamming(1024, bands=16) == 15
    assert xmm.default_media_hamming(1024, bands=64) == 60

    # bands: largest divisor whose width clears ceil(log2 n) + margin
    assert scaled_bands_for(1000, 256, max_hamming=3) == 16  # width 16 >= 14
    assert scaled_bands_for(1000, 64, max_hamming=3) == 4    # width 16 >= 14
    # impossible combinations raise and name the honest fix
    with pytest.raises(ValueError, match="widen the signature"):
        scaled_bands_for(10**6, 256, max_hamming=15)  # needs 16x24 = 384 bits

    # COUPLED default (max_hamming=None): bands track the width-coupled
    # radius so the probe-time threshold is NEVER capped below it — and
    # under that coupling the guard's composite key plateaus ~31 bits,
    # so (256, 16) serves every corpus it can certify and past ~10^8
    # the rule RAISES instead of silently losing recall or selectivity
    assert xmm.scaled_media_banding_for(1000) == (256, 16)
    assert xmm.scaled_media_banding_for(10**6) == (256, 16)
    with pytest.raises(ValueError, match="pin an absolute max_hamming"):
        xmm.scaled_media_banding_for(10**9)
    # PINNED radius: an explicit precision choice — widening the
    # signature then genuinely buys primary-band selectivity
    assert xmm.scaled_media_banding_for(10**6, max_hamming=15) == (400, 16)
    assert xmm.scaled_media_banding_for(10**9, max_hamming=15) == (576, 16)
    # the derived configs are accepted end-to-end by the banding guards:
    # divisibility, the even-square media shape, and the recall cap
    for n, h in ((10**6, None), (10**9, 15)):
        bits_, bands_ = xmm.scaled_media_banding_for(n, max_hamming=h)
        assert bits_ % bands_ == 0
        assert xmm._side_of(bits_) % 2 == 0  # raises on a non-square width
        assert xmm.default_media_hamming(bits_, bands_) <= bands_ - 1
        # the coupled radius itself fits under the recall cap — the
        # silent-clamp recall hole the r11 review caught cannot recur
        if h is None:
            assert max(12, (15 * bits_) // 256) <= bands_ - 1


def test_media_hardening_corrupt_header_and_single_decode(spark):
    """(a) An AVI whose header claims gigapixel frames dead-letters the
    ROW instead of MemoryError-ing the task (dims validated against the
    payload size BEFORE any allocation). (b) curate_media decodes each
    payload exactly once: every consumer reads the per-leg signature
    checkpoint, so the output plan contains NO decode stage."""
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    avi = bytearray(xmm.make_gradient_avi(40, 16, 24, seed=1))
    pos = bytes(avi).find(b"avih") + 8  # avih body
    avi[pos + 32 : pos + 36] = (2_000_000_000).to_bytes(4, "little")  # width
    df = spark.createDataFrame(
        [(1, avi), (2, bytearray(xmm.make_gradient_avi(40, 16, 24, seed=2)))],
        "doc_id long, payload binary",
    )
    sigs = {r.doc_id: r for r in xmm.video_hash_bits(df).collect()}
    assert sigs[1].bits is None and "exceed the payload" in sigs[1].error
    assert sigs[2].error is None  # the honest row still decodes

    out = xmm.curate_media(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    rows = {r.doc_id: r for r in out.collect()}
    assert {d: r.decision for d, r in rows.items()} == {
        1: "drop:undecodable", 2: "keep"
    }
    # a header contradicting its own payload classifies as corruption
    assert rows[1].error_class == "corrupt"


def test_simhash_banding_skew_guard_equivalence(spark):
    """The skew guard's sub-banding path returns EXACTLY the direct
    join's pair set (both forms): a planted corpus with one constant
    16-bit band (every row lands in a single oversized bucket for band
    0) plus planted 3-flip near pairs in the tail bits. Forcing the
    guard on (tiny skew_cap) and off (huge skew_cap) must agree pair for
    pair, hamming for hamming — the recall-preservation proof, executed."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext.dedup import (
        simhash_candidate_pairs,
        simhash_cross_candidates,
    )

    rng = np.random.RandomState(7)
    n = 300
    base = rng.randint(0, 2, size=(n, 64))
    base[:, :16] = 1  # band 0 constant corpus-wide -> one huge bucket
    for i in range(0, 60, 2):
        base[i + 1] = base[i].copy()
        base[i + 1, [20, 40, 60]] ^= 1
    df = spark.createDataFrame(
        [(int(i), [int(b) for b in base[i]]) for i in range(n)],
        "doc_id long, bits array<int>",
    )

    guarded = sorted(map(tuple, simhash_candidate_pairs(
        df, max_hamming=5, bands=16, n_bits=64, skew_cap=32
    ).collect()))
    direct = sorted(map(tuple, simhash_candidate_pairs(
        df, max_hamming=5, bands=16, n_bits=64, skew_cap=10**9
    ).collect()))
    assert guarded == direct
    found = {(a, b) for a, b, _ in guarded}
    assert {(i, i + 1) for i in range(0, 60, 2)} <= found

    ref = spark.createDataFrame(
        [(int(1000 + i), [int(b) for b in base[i]]) for i in range(0, 60, 2)],
        "doc_id long, bits array<int>",
    )
    xg = sorted(map(tuple, simhash_cross_candidates(
        df, ref, max_hamming=5, bands=16, n_bits=64, skew_cap=32
    ).collect()))
    xd = sorted(map(tuple, simhash_cross_candidates(
        df, ref, max_hamming=5, bands=16, n_bits=64, skew_cap=10**9
    ).collect()))
    assert xg == xd and len(xg) >= 60  # each planted row + its twin match


def test_error_class_taxonomy_pinned(spark):
    """ADVICE r12: every decode-gate raise message is pinned to its
    MEDIA_ERROR_CLASSES value THROUGH THE REAL OPS — a reworded raise
    site elsewhere now fails this test loudly instead of silently
    reclassifying dead letters into 'corrupt' and skewing the
    error_class audit. One case per raise site that can fire in
    production; the single un-triggerable message (the 2^38-sample
    too-long guard) is pinned by source-literal + classifier check."""
    import inspect

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    def classes(op, payloads):
        df = spark.createDataFrame(
            [
                (i, bytearray(p) if p is not None else None)
                for i, p in enumerate(payloads)
            ],
            "doc_id long, payload binary",
        )
        rows = (
            op(df)
            .select(
                "doc_id",
                "error",
                xmm._error_class(F.col("error")).alias("cls"),
            )
            .collect()
        )
        return {r.doc_id: (r.error, r.cls) for r in rows}

    # -- image plane ------------------------------------------------------
    bmp8 = bytearray(60)
    bmp8[0:2] = b"BM"
    bmp8[28:30] = (8).to_bytes(2, "little")  # bpp=8 -> unsupported
    img = classes(
        lambda df: xmm.image_perceptual_bits(df, n_bits=64),
        [None, b"x" * 60, bytes(bmp8)],
    )
    assert img[0][1] == "null_payload" and "null payload" in img[0][0]
    assert img[1][1] == "wrong_container" and "not a registered image" in img[1][0]
    assert img[2][1] == "unsupported_codec" and "bpp=8" in img[2][0]

    # -- audio plane ------------------------------------------------------
    def wav_with_bits(bits, n=4000):
        sig = bytes(n)
        fmt = (
            b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
            + (8000).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
        )
        data = b"data" + len(sig).to_bytes(4, "little") + sig
        body = b"WAVE" + fmt + data
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    riff_avi_pad = b"RIFF" + (100).to_bytes(4, "little") + b"AVI " + b"\x00" * 92
    aud = classes(
        lambda df: xmm.audio_fingerprint_bits(df, n_bits=64),
        [riff_avi_pad, wav_with_bits(8), xmm.make_saw_wav(20, seed=0)],
    )
    # the registry sniff now rejects the container before _wav_samples
    # can see it — wrong_container either way
    assert aud[0][1] == "wrong_container" and "not a registered audio" in aud[0][0]
    assert aud[1][1] == "unsupported_codec" and "bits=8" in aud[1][0]
    assert aud[2][1] == "too_short" and "too short" in aud[2][0]

    # -- video plane ------------------------------------------------------
    avi = xmm.make_gradient_avi(16, 8, 12, seed=1)
    avi_dc = avi.replace(b"00db", b"00dc")          # compressed stream
    avi_rec = avi.replace(b"movi", b"rec ")         # rec-grouped movi
    ah = avi.index(b"avih") + 8
    avi_mismatch = bytearray(avi)
    avi_mismatch[ah + 16 : ah + 20] = (99).to_bytes(4, "little")
    avi_bigdims = bytearray(avi)
    avi_bigdims[ah + 32 : ah + 36] = (1 << 20).to_bytes(4, "little")
    j = avi.rindex(b"00db")
    fsz = int.from_bytes(avi[j + 4 : j + 8], "little")
    avi_trunc = bytearray(avi)
    avi_trunc[j + 4 : j + 8] = (fsz - 4).to_bytes(4, "little")
    vid = classes(
        lambda df: xmm.video_hash_bits(df, n_bits=64),
        [
            avi_dc,
            avi_rec,
            bytes(avi_mismatch),
            bytes(avi_bigdims),
            bytes(avi_trunc),
            xmm.make_gradient_avi(16, 8, 5, seed=0),
        ],
    )
    assert vid[0][1] == "unsupported_codec" and "compressed" in vid[0][0]
    assert vid[1][1] == "unsupported_codec" and "rec-grouped" in vid[1][0]
    assert vid[2][1] == "corrupt" and "mismatch" in vid[2][0]
    assert vid[3][1] == "corrupt" and "exceed" in vid[3][0]
    assert vid[4][1] == "corrupt" and "truncated" in vid[4][0]
    assert vid[5][1] == "too_short" and "too short" in vid[5][0]

    # direct-codec raise sites the registry sniff now pre-empts at the
    # op level stay pinned through the raw codec + classifier
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="but not WAVE"):
        xmm._wav_samples(riff_avi_pad)

    # -- the one closure guard no craftable payload reaches (2^38 samples):
    # pin the raise-site literal in source AND its classification
    src = inspect.getsource(xmm)
    assert "audio too long for exact int64 bin energies" in src
    lit = spark.createDataFrame(
        [("afp_error: audio too long for exact int64 bin energies",)],
        "error string",
    )
    assert (
        lit.select(xmm._error_class(F.col("error")).alias("c")).first().c
        == "too_long"
    )


def test_media_report_mass_axis(spark):
    """r12 mass axis: per-(modality, decision) byte/pixel/frame totals
    off columns the decisions relation already carries — compliance
    numbers in bytes and frames, not doc counts. Axes undefined for a
    cell (no dims, no frames, NULL payload) are absent, not zero; a
    decisions frame without n_bytes (pre-r12 persisted audit) still
    cards pixels and frames."""
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    img = xmm.make_gradient_bmp(36, 32, seed=1)
    wav = xmm.make_saw_wav(3300, seed=2)
    avi = xmm.make_gradient_avi(40, 16, 24, seed=3)
    rows = [
        (1, bytearray(img)),
        (2, bytearray(img)),  # exact copy -> drop:near_dup
        (5, bytearray(wav)),
        (7, bytearray(avi)),
        (9, bytearray(b"not media")),
        (10, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dec = xmm.curate_media(df, sig_bits=64)
    card = {
        (r.modality, r.metric, r.bucket): r.n
        for r in xmm.media_report(dec, include_mass=True).collect()
    }
    assert card[("image", "mass_bytes", "keep")] == len(img)
    assert card[("image", "mass_bytes", "drop:near_dup")] == len(img)
    assert card[("image", "mass_pixels", "keep")] == 36 * 32
    assert ("image", "mass_frames", "keep") not in card  # images: no frames
    assert card[("audio", "mass_bytes", "keep")] == len(wav)
    assert card[("audio", "mass_frames", "keep")] == 3300
    assert ("audio", "mass_pixels", "keep") not in card  # audio: no dims
    assert card[("video", "mass_bytes", "keep")] == len(avi)
    assert card[("video", "mass_pixels", "keep")] == 40 * 16 * 24
    assert card[("video", "mass_frames", "keep")] == 24
    assert card[("unknown", "mass_bytes", "drop:undecodable")] == len(
        b"not media"
    )
    # the NULL payload contributes no byte mass but IS counted as a doc
    assert card[("unknown", "decision", "drop:undecodable")] == 2

    metrics = {
        r.metric
        for r in xmm.media_report(
            dec.drop("n_bytes"), include_mass=True
        ).collect()
    }
    assert "mass_pixels" in metrics and "mass_frames" in metrics
    assert "mass_bytes" not in metrics


def test_decoder_seam_external_codecs(spark, tmp_path):
    """r12 decoder seam: a deployment-registered stub 'PNG' image codec
    and a stub raw-video codec flow through dispatch -> curation funnel
    -> persisted media index -> containment, with the built-in trio
    untouched, unknown containers still dead-lettering, and
    unregistration restoring the builtin-only world. The stub callables
    ship inside the Arrow closures (registry snapshot), so no
    module-level coordination with executors is needed."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.media_index import (
        build_media_index,
        media_dedup_against_index,
    )
    from beeper_matric_etl_tool_spark.ext.media_subseq import (
        video_containment_pairs,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    # stub "PNG": \x89PNG magic, then 1-byte w, 1-byte h, then w*h*3 pixels
    def decode_png_stub(p):
        w, h = p[4], p[5]
        return np.frombuffer(p, np.uint8, count=w * h * 3, offset=6).reshape(
            h, w, 3
        )

    def png_stub(w, h, seed):
        px = np.random.RandomState(seed).randint(0, 256, w * h * 3)
        return b"\x89PNG" + bytes([w, h]) + px.astype(np.uint8).tobytes()

    # stub raw video: NVID magic, 1-byte n/w/h, then n*h*w*3 pixels
    def decode_nvid_stub(p):
        n, w, h = p[4], p[5], p[6]
        frames = np.frombuffer(
            p, np.uint8, count=n * h * w * 3, offset=7
        ).reshape(n, h, w, 3)
        return frames, 83333  # ~12 fps

    def nvid_stub(frames):
        n, h, w, _ = frames.shape
        return b"NVID" + bytes([n, w, h]) + frames.astype(np.uint8).tobytes()

    xmm.register_media_decoder(
        "png-stub", "image", [(0, b"\x89PNG")], 6, decode_png_stub
    )
    xmm.register_media_decoder(
        "nvid-stub", "video", [(0, b"NVID")], 7, decode_nvid_stub
    )
    try:
        png_a = png_stub(36, 32, seed=1)
        bmp = xmm.make_gradient_bmp(36, 32, seed=2)
        dec = xmm.curate_media(
            frame(
                [
                    (1, png_a),
                    (2, png_a),  # exact dup of the stub-decoded image
                    (3, bmp),    # builtin codec still dispatches
                    (4, b"\x89QQQ unknown container bytes"),
                ]
            ),
            sig_bits=64,
        )
        rows = {r.doc_id: r for r in dec.collect()}
        assert rows[1].modality == "image" and rows[1].decision == "keep"
        assert (rows[1].width, rows[1].height) == (36, 32)
        assert rows[2].decision == "drop:near_dup" and rows[2].cluster_id == 1
        assert rows[3].modality == "image" and rows[3].decision == "keep"
        assert rows[4].modality == "unknown"
        assert rows[4].decision == "drop:undecodable"
        assert rows[4].error_class == "unknown_container"

        # persisted media index over the stub-decoded corpus
        idx = str(tmp_path / "midx")
        build_media_index(frame([(1, png_a), (3, bmp)]), idx)
        _, dropped = media_dedup_against_index(
            frame([(10, png_a)]), spark, idx
        )
        d = dropped.collect()
        assert [(r.doc_id, r.ref_id, r.hamming) for r in d] == [(10, 1, 0)]

        # containment through the stub video codec
        vid = np.random.RandomState(7).randint(0, 256, (60, 16, 20, 3)).astype(
            np.uint8
        )
        hits = video_containment_pairs(
            frame([(1, nvid_stub(vid[20:32]))]),
            frame([(100, nvid_stub(vid))]),
            min_matches=5,
            max_hamming=0,
        ).collect()
        assert [
            (r.clip_id, r.track_id, r.offset, r.n_matched) for r in hits
        ] == [(1, 100, 20, 12)]
    finally:
        xmm.unregister_media_decoder("png-stub")
        xmm.unregister_media_decoder("nvid-stub")

    # the builtin-only world is restored: the stub containers now
    # dead-letter as unknown
    dec2 = xmm.curate_media(frame([(1, png_a)]), sig_bits=64)
    assert dec2.first().modality == "unknown"


def test_passage_attribution(spark):
    """r12 text containment: a passage cut from a corpus doc is
    attributed to THAT doc at the exact 0-based token offset; a
    mid-passage token edit removes exactly the k windows covering it
    (linear degradation, offset persists); corpus_hop thins votes but
    not the offset; min_matches gates; unrelated docs are silent."""
    from beeper_matric_etl_tool_spark.ext.text import passage_attribution

    src_tokens = [f"w{i}" for i in range(60)]
    corpus = spark.createDataFrame(
        [
            (7, " ".join(src_tokens)),
            (8, " ".join(f"x{i}" for i in range(60))),  # unrelated
        ],
        "doc_id long, text string",
    )
    cut = src_tokens[10:30]  # 20 tokens from 0-based offset 10
    probes = spark.createDataFrame(
        [(900, " ".join(cut))], "doc_id long, text string"
    )

    rows = passage_attribution(probes, corpus, k=8, min_matches=2).collect()
    # verbatim: all 13 windows (20-8+1) vote at offset 10, nothing else
    assert [
        (r.probe_id, r.doc_id, r.offset, r.n_matched) for r in rows
    ] == [(900, 7, 10, 13)]

    # one token edited mid-passage: the 8 windows covering it drop,
    # the other 5 still vote at the same offset
    edited = list(cut)
    edited[10] = "EDITED"
    probes_e = spark.createDataFrame(
        [(901, " ".join(edited))], "doc_id long, text string"
    )
    rows_e = passage_attribution(probes_e, corpus, k=8, min_matches=2).collect()
    assert [
        (r.doc_id, r.offset, r.n_matched) for r in rows_e
    ] == [(7, 10, 5)]

    # corpus_hop=2 stores half the corpus windows; the hop-1 probe side
    # still aligns with every sampled window -> ~half the votes, exact
    # offset
    rows_h = passage_attribution(
        probes, corpus, k=8, min_matches=2, corpus_hop=2
    ).collect()
    assert [(r.doc_id, r.offset, r.n_matched) for r in rows_h] == [(7, 10, 7)]

    # min_matches above the window count -> silent (the vote gate)
    assert (
        passage_attribution(probes, corpus, k=8, min_matches=14).count() == 0
    )

    # a probe shorter than one window is silent, not an error
    short = spark.createDataFrame([(902, "a b c")], "doc_id long, text string")
    assert passage_attribution(short, corpus, k=8).count() == 0


def test_passage_attribution_normalized(spark):
    """r12: attribution rides the curate() stage-0 canonicalization — an
    NBSP/curly-quote byte-variant copy of a cut passage still attributes
    at the exact offset (normalize=False pins the raw-bytes miss)."""
    from beeper_matric_etl_tool_spark.ext.text import passage_attribution

    corpus = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(40)))], "doc_id long, text string"
    )
    cut = " ".join(f"w{i}" for i in range(5, 25))
    variant = cut.replace(" ", " ", 3)  # 3 NBSP separators
    probes = spark.createDataFrame(
        [(900, variant)], "doc_id long, text string"
    )
    rows = passage_attribution(probes, corpus, k=8, min_matches=2).collect()
    assert [(r.doc_id, r.offset, r.n_matched) for r in rows] == [(7, 5, 13)]
    assert (
        passage_attribution(
            probes, corpus, k=8, min_matches=2, normalize=False
        ).count()
        < 13  # the raw-bytes windows spanning an NBSP miss
    )


def test_decoder_seam_full_scale_and_exception_wrap(spark):
    """r13 ADVICE fixes on the decoder seam: (1) an audio codec
    registered with a non-int16 full scale (here 32-bit PCM,
    audio_full_scale=2^31) lands its frames on the same [-1, 1) axis —
    rms/peak/zcr match the int16 twin of the same signal EXACTLY
    (power-of-two rescale, no rounding); (2) a registered decoder
    leaking a non-contract exception class (struct.error) dead-letters
    its row via the snapshot wrapper's ValueError re-raise instead of
    killing the Spark task."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    def wav_of(samples, rate=8000):
        sig = samples.astype("<i2").tobytes()
        fmt = (
            b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little") + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        )
        data = b"data" + len(sig).to_bytes(4, "little") + sig
        body = b"WAVE" + fmt + data
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    # stub 32-bit PCM: 'P32 ' magic, 4-byte rate, then <i4 mono samples
    # at full scale 2^31
    def decode_p32(p):
        rate = int.from_bytes(p[4:8], "little")
        return (
            np.frombuffer(p, "<i4", offset=8).reshape(-1, 1),
            rate,
            1,
        )

    # a decoder that leaks a class outside the dead-letter contract trio
    def decode_boom(p):
        import struct

        raise struct.error("unpack requires a buffer")

    sig16 = np.random.RandomState(5).randint(-32768, 32768, 4000)
    p32 = (
        b"P32 " + (8000).to_bytes(4, "little")
        + (sig16.astype(np.int64) * 65536).astype("<i4").tobytes()
    )

    xmm.register_media_decoder(
        "p32-stub", "audio", [(0, b"P32 ")], 8, decode_p32,
        audio_full_scale=2**31,
    )
    xmm.register_media_decoder(
        "boom-stub", "audio", [(0, b"BOOM")], 4, decode_boom
    )
    try:
        feats = xmm.sample_audio_frames(
            frame([(1, wav_of(sig16)), (2, p32), (3, b"BOOM" + b"\x00" * 64)])
        ).collect()
        by_doc = {}
        for r in feats:
            by_doc.setdefault(r.doc_id, []).append(
                (r.frame_idx if hasattr(r, "frame_idx") else r.idx,
                 r.rms, r.peak, r.zcr)
            )
        # the BOOM payload produced no frames (dead-lettered, no crash)
        assert 3 not in by_doc
        # the 32-bit codec's features are EXACTLY the int16 twin's
        assert sorted(by_doc[1]) == sorted(by_doc[2])
        assert len(by_doc[1]) > 0

        # the wrapper's re-raise carries the decoder name + original class
        dec = xmm._decoder_fn("audio")
        try:
            dec(b"BOOM" + b"\x00" * 64)
            raise AssertionError("expected ValueError")
        except ValueError as exc:
            assert "boom-stub" in str(exc) and "error" in str(exc)
    finally:
        xmm.unregister_media_decoder("p32-stub")
        xmm.unregister_media_decoder("boom-stub")


def test_png_codec_roundtrip_and_error_paths():
    """r13: the first COMPRESSED production format in-tree — real PNG
    via stdlib zlib. Every scanline filter type (None/Sub/Up/Average/
    Paeth) reconstructs exactly against the forward-filtering encoder
    (ground truth, not self-reference); gray, palette, gray+alpha and
    RGBA color types land on the (h, w, 3) BGR contract; CRC damage,
    truncation, Adam7 and 16-bit depth raise their dead-letter classes."""
    import zlib

    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    rng = np.random.RandomState(11)
    bgr = rng.randint(0, 256, (23, 31, 3)).astype(np.uint8)
    for ft in range(5):
        assert np.array_equal(
            xmm._png_pixels(xmm._encode_png(bgr, filter_type=ft)), bgr
        ), f"filter {ft}"

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big") + typ + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png_of(ctype, ch, planes, extra=b""):
        h, w = planes.shape[0], planes.shape[1]
        raw = b"".join(
            b"\x00" + planes[y].tobytes() for y in range(h)
        )
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, ctype, 0, 0, 0])
        )
        return (
            xmm.PNG_MAGIC + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # gray (ctype 0): luma replicated into all three BGR channels
    gray = rng.randint(0, 256, (6, 9, 1)).astype(np.uint8)
    out = xmm._png_pixels(png_of(0, 1, gray))
    assert np.array_equal(out, np.repeat(gray, 3, axis=2))
    # gray+alpha (ctype 4): alpha dropped
    ga = rng.randint(0, 256, (6, 9, 2)).astype(np.uint8)
    out = xmm._png_pixels(png_of(4, 2, ga))
    assert np.array_equal(out, np.repeat(ga[:, :, :1], 3, axis=2))
    # RGBA (ctype 6): alpha dropped, BGR order
    rgba = rng.randint(0, 256, (6, 9, 4)).astype(np.uint8)
    out = xmm._png_pixels(png_of(6, 4, rgba))
    assert np.array_equal(out, rgba[:, :, 2::-1])
    # palette (ctype 3): indices map through PLTE, RGB -> BGR
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (6, 9, 1)).astype(np.uint8)
    out = xmm._png_pixels(
        png_of(3, 1, idx, extra=chunk(b"PLTE", pal.tobytes()))
    )
    assert np.array_equal(out, pal[idx[:, :, 0]][:, :, ::-1])
    # palette index out of range is a dead letter, not a crash
    bad_idx = idx.copy()
    bad_idx[0, 0, 0] = 99
    try:
        xmm._png_pixels(
            png_of(3, 1, bad_idx, extra=chunk(b"PLTE", pal.tobytes()))
        )
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "palette index" in str(exc)

    png = xmm._encode_png(bgr)
    damaged = bytearray(png)
    damaged[60] ^= 0xFF
    try:
        xmm._png_pixels(bytes(damaged))
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "crc" in str(exc)
    try:
        xmm._png_pixels(png[:40])
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "IEND" in str(exc)
    # 16-bit depth and Adam7: honest NotImplementedError dead letters
    for byte_off, val, msg in ((24, 16, "bit depth"), (28, 1, "Adam7")):
        mut = bytearray(png)
        mut[byte_off] = val
        mut[29:33] = (
            zlib.crc32(bytes(mut[12:29])) & 0xFFFFFFFF
        ).to_bytes(4, "big")
        try:
            xmm._png_pixels(bytes(mut))
            raise AssertionError("expected NotImplementedError")
        except NotImplementedError as exc:
            assert msg in str(exc)


def test_png_builtin_through_funnel_and_cross_container_dedup(spark, tmp_path):
    """r13: the in-tree PNG codec is a BUILTIN — no registration needed.
    A PNG dispatches 'image' in the JVM chain, decodes through the
    funnel with true dims, and — the load-bearing claim — the SAME
    pixel content shipped as PNG and as BMP lands the SAME dHash, so
    the near-dup stage dedups ACROSS containers (content identity,
    not byte identity: the two payloads share no bytes). The persisted
    media index probe catches a PNG re-encode of an indexed BMP at
    hamming 0."""
    import numpy as np

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.media_index import (
        build_media_index,
        media_dedup_against_index,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    bmp = xmm.make_gradient_bmp(36, 32, seed=3)
    pixels = xmm._bmp_pixels(bmp)[:, :, :3]
    png = xmm._encode_png(pixels, filter_type=1)  # Sub-filtered, compressed
    assert len(png) < len(bmp), "PNG of a gradient should actually compress"
    other = xmm.make_gradient_bmp(36, 32, seed=4)

    dec = xmm.curate_media(
        frame([(1, bmp), (2, png), (3, other)]), sig_bits=64
    )
    rows = {r.doc_id: r for r in dec.collect()}
    assert rows[1].modality == "image" and rows[1].decision == "keep"
    assert rows[2].modality == "image"
    assert (rows[2].width, rows[2].height) == (36, 32)
    # cross-container near-dup: the PNG re-encode clusters with the BMP
    assert rows[2].decision == "drop:near_dup" and rows[2].cluster_id == 1
    assert rows[3].decision == "keep"

    idx = str(tmp_path / "midx_png")
    build_media_index(frame([(1, bmp)]), idx)
    _, dropped = media_dedup_against_index(frame([(20, png)]), spark, idx)
    assert [
        (r.doc_id, r.ref_id, r.hamming) for r in dropped.collect()
    ] == [(20, 1, 0)]
