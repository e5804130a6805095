"""Deletion/retention on the four persisted index families (r13 — the
r12 verdict's missing lifecycle step): when a source document is taken
down (DMCA/GDPR), `delete_from_*_index` removes its derived rows with a
touched-partition-only rewrite (shared core
`dedup_index.delete_from_batched_tables`), and the decision change is
pinned BEFORE and AFTER — a twin of the removed doc matched before and
survives after, while every remaining doc's decisions are unchanged.
The reference models the cascade with ON DELETE CASCADE
(/root/reference/src/server/db/schema.ts:51,68)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark.ext.dedup_index import (
    BATCH_COL,
    append_dedup_index,
    build_dedup_index,
    dedup_against_index,
    delete_from_batched_tables,
    delete_from_dedup_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


TEXT_A = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
TEXT_B = "kilo lima mike november oscar papa quebec romeo sierra tango"
TEXT_C = "uniform victor whiskey xray yankee zulu one two three four"
TEXT_D = "red orange yellow green blue indigo violet umber ochre teal"


def test_delete_from_dedup_index_before_after_pin(spark, tmp_path):
    idx = str(tmp_path / "didx")
    build_dedup_index(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)]), idx
    )

    def decisions(pid_texts):
        surv, drop = dedup_against_index(_docs(spark, pid_texts), spark, idx)
        return (
            {r.doc_id for r in surv.collect()},
            {(r.doc_id, r.ref_id) for r in drop.select("doc_id", "ref_id").collect()},
        )

    # BEFORE: exact twins of docs 1 and 2 both drop against their source
    s, d = decisions([(901, TEXT_A), (902, TEXT_B)])
    assert s == set() and d == {(901, 1), (902, 2)}

    counts = delete_from_dedup_index(spark, idx, [2])
    assert counts == {"fingerprints": 1, "signatures": 1, "shingles": 1}

    # AFTER: the removed doc's twin survives; doc 1's twin still drops
    s, d = decisions([(901, TEXT_A), (902, TEXT_B)])
    assert s == {902} and d == {(901, 1)}

    # idempotent: nothing left to delete
    assert delete_from_dedup_index(spark, idx, [2]) == {
        "fingerprints": 0,
        "signatures": 0,
        "shingles": 0,
    }


def test_delete_across_staged_partitions_and_empty_partition(spark, tmp_path):
    idx = str(tmp_path / "didx2")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx)
    append_dedup_index(_docs(spark, [(4, TEXT_D)]), idx, batch_id=5)

    fp_dir = os.path.join(idx, "fingerprints")
    assert os.path.isdir(os.path.join(fp_dir, f"{BATCH_COL}=5"))

    # one call touches the bootstrap partition AND batch 5; batch 5 is
    # fully emptied and its partition dir disappears
    counts = delete_from_dedup_index(spark, idx, [2, 4])
    assert counts == {"fingerprints": 2, "signatures": 2, "shingles": 2}
    assert not os.path.exists(os.path.join(fp_dir, f"{BATCH_COL}=5"))
    assert os.path.isdir(os.path.join(fp_dir, f"{BATCH_COL}=-1"))

    s, d = dedup_against_index(
        _docs(spark, [(901, TEXT_A), (902, TEXT_B), (904, TEXT_D)]),
        spark,
        idx,
    )
    assert {r.doc_id for r in s.collect()} == {902, 904}
    assert {(r.doc_id, r.ref_id) for r in d.select("doc_id", "ref_id").collect()} == {
        (901, 1)
    }

    # delete EVERYTHING: the table reseeds an empty bootstrap partition
    # and probes keep working (everything survives)
    delete_from_dedup_index(spark, idx, [1])
    s, d = dedup_against_index(_docs(spark, [(901, TEXT_A)]), spark, idx)
    assert {r.doc_id for r in s.collect()} == {901}
    assert d.count() == 0


def test_delete_healing_restores_stranded_partition(spark, tmp_path):
    """A crash between the partition moves leaves an original under
    <table>.old — the next call (here: a no-op delete) restores it
    before touching anything, so no rows are lost."""
    import shutil

    idx = str(tmp_path / "didx3")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx)
    fp_dir = os.path.join(idx, "fingerprints")
    old = fp_dir + ".old"
    os.makedirs(old)
    shutil.move(
        os.path.join(fp_dir, f"{BATCH_COL}=-1"),
        os.path.join(old, f"{BATCH_COL}=-1"),
    )
    # the live table is now missing its partition — the doomed state
    counts = delete_from_dedup_index(spark, idx, [999])  # no-op id
    assert counts == {"fingerprints": 0, "signatures": 0, "shingles": 0}
    assert os.path.isdir(os.path.join(fp_dir, f"{BATCH_COL}=-1"))
    assert not os.path.exists(old)
    s, d = dedup_against_index(_docs(spark, [(901, TEXT_A)]), spark, idx)
    assert {(r.doc_id, r.ref_id) for r in d.select("doc_id", "ref_id").collect()} == {
        (901, 1)
    }


def test_delete_from_media_index(spark, tmp_path):
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.media_index import (
        build_media_index,
        delete_from_media_index,
        media_dedup_against_index,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    a = xmm.make_gradient_bmp(36, 32, seed=1)
    b = xmm.make_gradient_bmp(36, 32, seed=2)
    idx = str(tmp_path / "midx")
    build_media_index(frame([(1, a), (2, b)]), idx)

    _, dropped = media_dedup_against_index(frame([(10, a), (20, b)]), spark, idx)
    assert {(r.doc_id, r.ref_id) for r in dropped.select("doc_id", "ref_id").collect()} == {
        (10, 1),
        (20, 2),
    }

    assert delete_from_media_index(spark, idx, [1]) == {"signatures": 1}

    surv, dropped = media_dedup_against_index(
        frame([(10, a), (20, b)]), spark, idx
    )
    assert {r.doc_id for r in surv.collect()} == {10}
    assert {(r.doc_id, r.ref_id) for r in dropped.select("doc_id", "ref_id").collect()} == {
        (20, 2)
    }


def test_delete_from_containment_index(spark, tmp_path):
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.containment_index import (
        build_containment_index,
        containment_against_index,
        delete_from_containment_index,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    tracks = frame(
        [(t, xmm.make_gradient_avi(40, 16, 24, t)) for t in (0, 1)]
    )
    idx = str(tmp_path / "cidx")
    build_containment_index(
        tracks, idx, kind="video", n_bits=64, stride=1, max_hamming=3
    )

    def clip_of(track_seed, cid):
        frames, _ = xmm._avi_frames(xmm.make_gradient_avi(40, 16, 24, track_seed))
        return frame([(cid, xmm._encode_avi(frames[9:17]))])

    hits = containment_against_index(clip_of(0, 900), spark, idx, min_matches=3)
    assert {(r.clip_id, r.track_id, r.offset) for r in hits.collect()} == {
        (900, 0, 9)
    }

    deleted = delete_from_containment_index(spark, idx, [0])
    assert deleted == {"unit_signatures": 24}

    # the clip of the removed track no longer attributes anywhere;
    # a clip of the remaining track still lands exactly
    assert containment_against_index(
        clip_of(0, 900), spark, idx, min_matches=3
    ).count() == 0
    hits = containment_against_index(clip_of(1, 901), spark, idx, min_matches=3)
    assert {(r.clip_id, r.track_id, r.offset) for r in hits.collect()} == {
        (901, 1, 9)
    }


def test_delete_from_passage_index(spark, tmp_path):
    from beeper_matric_etl_tool_spark.ext.passage_index import (
        attribute_against_index,
        build_passage_index,
        delete_from_passage_index,
    )

    corpus = _docs(
        spark,
        [
            (7, " ".join(f"w{i}" for i in range(60))),
            (8, " ".join(f"x{i}" for i in range(60))),
        ],
    )
    idx = str(tmp_path / "pidx")
    build_passage_index(corpus, idx, k=8)

    cut7 = " ".join(f"w{i}" for i in range(10, 30))
    cut8 = " ".join(f"x{i}" for i in range(10, 30))

    hits = attribute_against_index(_docs(spark, [(900, cut7)]), spark, idx)
    assert [(r.probe_id, r.doc_id, r.offset) for r in hits.collect()] == [
        (900, 7, 10)
    ]

    deleted = delete_from_passage_index(spark, idx, [7])
    assert deleted == {"windows": 53}  # 60 tokens, k=8, hop 1 -> 53 windows

    assert attribute_against_index(
        _docs(spark, [(900, cut7)]), spark, idx
    ).count() == 0
    hits = attribute_against_index(_docs(spark, [(901, cut8)]), spark, idx)
    assert [(r.probe_id, r.doc_id, r.offset) for r in hits.collect()] == [
        (901, 8, 10)
    ]


def test_batch_rollback_and_report(spark, tmp_path):
    """r13 ops lifecycle: a poisoned micro-batch rolls back as one
    partition unlink per table (no rewrite), decisions revert to the
    pre-batch state, the bootstrap is refused, absent batches are
    no-ops, and the index report counts batches/rows/docs/files/bytes
    the way an operator triages compact-vs-rollback-vs-delete."""
    import pytest

    from beeper_matric_etl_tool_spark.ext.dedup_index import (
        dedup_index_report,
        drop_dedup_index_batches,
    )

    idx = str(tmp_path / "didx_rb")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx)
    append_dedup_index(_docs(spark, [(4, TEXT_D)]), idx, batch_id=3)
    append_dedup_index(_docs(spark, [(5, TEXT_C)]), idx, batch_id=7)

    rep = dedup_index_report(spark, idx)
    assert set(rep["tables"]) == {"fingerprints", "signatures", "shingles"}
    fp = rep["tables"]["fingerprints"]
    assert fp["partitions"] == {-1: 2, 3: 1, 7: 1}
    assert fp["rows"] == 4 and fp["docs"] == 4
    assert fp["files"] >= 3 and fp["bytes"] > 0

    # batch 3 was poisoned: roll it back (batch 7 and bootstrap stay)
    counts = drop_dedup_index_batches(spark, idx, [3, 99])  # 99 absent: no-op
    assert counts == {"fingerprints": 1, "signatures": 1, "shingles": 1}
    s, d = dedup_against_index(
        _docs(spark, [(904, TEXT_D), (905, TEXT_C)]), spark, idx
    )
    assert {r.doc_id for r in s.collect()} == {904}  # poisoned doc forgotten
    assert {(r.doc_id, r.ref_id) for r in d.select("doc_id", "ref_id").collect()} == {
        (905, 5)
    }
    assert dedup_index_report(spark, idx)["tables"]["fingerprints"][
        "partitions"
    ] == {-1: 2, 7: 1}

    with pytest.raises(ValueError, match="bootstrap"):
        drop_dedup_index_batches(spark, idx, [-1])

    # the containment wrapper shares the core
    from beeper_matric_etl_tool_spark.ext import multimodal as xmm
    from beeper_matric_etl_tool_spark.ext.containment_index import (
        append_containment_index,
        build_containment_index,
        containment_index_report,
        drop_containment_index_batches,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
        )

    cidx = str(tmp_path / "cidx_rb")
    build_containment_index(
        frame([(0, xmm.make_texture_avi(40, 16, 24, 0))]), cidx,
        kind="video", stride=1, max_hamming=3,
    )
    append_containment_index(
        frame([(1, xmm.make_texture_avi(40, 16, 24, 1))]), cidx, batch_id=2
    )
    rep = containment_index_report(spark, cidx)
    assert rep["tables"]["unit_signatures"]["partitions"] == {-1: 24, 2: 24}
    assert rep["tables"]["unit_signatures"]["docs"] == 2
    assert drop_containment_index_batches(spark, cidx, [2]) == {
        "unit_signatures": 24
    }
    assert containment_index_report(spark, cidx)["tables"][
        "unit_signatures"
    ]["docs"] == 1


def test_delete_rewrites_only_touched_partitions(spark, tmp_path):
    """The 100 TB shape pin: deleting a doc that lives in ONE staged
    batch leaves every other partition's parquet files PHYSICALLY
    untouched (same paths, sizes, mtimes) — the rewrite is proportional
    to the deletion's blast radius, not the index size."""
    idx = str(tmp_path / "didx_touch")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx)
    append_dedup_index(_docs(spark, [(4, TEXT_D)]), idx, batch_id=3)
    append_dedup_index(_docs(spark, [(5, TEXT_C)]), idx, batch_id=7)

    def snapshot(batches):
        out = {}
        for sub in ("fingerprints", "signatures", "shingles"):
            for b in batches:
                part = os.path.join(idx, sub, f"{BATCH_COL}={b}")
                for f in sorted(os.listdir(part)):
                    if f.startswith(("_", ".")):
                        continue
                    st = os.stat(os.path.join(part, f))
                    out[(sub, b, f)] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot([-1, 3, 7])
    # doc 4 lives only in batch 3
    assert delete_from_dedup_index(spark, idx, [4]) == {
        "fingerprints": 1,
        "signatures": 1,
        "shingles": 1,
    }
    after = snapshot([-1, 7])
    untouched_before = {k: v for k, v in before.items() if k[1] in (-1, 7)}
    assert after == untouched_before


def test_ivf_lifecycle_append_delete_report(spark, tmp_path):
    """r13: the IVF vector index completes the persisted-index
    lifecycle — frozen-quantizer append (new vectors assign to the
    nearest EXISTING centroid and land in its cluster partition, no
    k-means re-run), touched-cluster-only deletion (the shared core
    with cluster_id as the partition axis), and the per-cluster report
    (the rebuild dial). Decisions pinned before/after on search_ivf."""
    from beeper_matric_etl_tool_spark.ext import similarity_index as ivf

    rows = [(i, [float(i + d) for d in range(4)]) for i in range(1, 9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf_lc")
    ivf.build_ivf_index(emb, idx, k=2, iterations=2)

    q = spark.createDataFrame(
        [(100, [3.0, 4.0, 5.0, 6.0])], "vec_id long, embedding array<float>"
    )
    before = {
        r.neighbor_id: r.rank
        for r in ivf.search_ivf(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert 3 in before and before[3] == 1  # identical direction -> rank 1

    # append an exact copy of vector 3 under a new id: identical point
    # -> the frozen quantizer assigns it the SAME cluster partition
    # (assignment is by L2 to the centroid, the probe's own rule)
    twin = spark.createDataFrame(
        [(50, [3.0, 4.0, 5.0, 6.0])], "vec_id long, embedding array<float>"
    )
    ivf.append_ivf_index(twin, idx)
    rep = ivf.ivf_index_report(spark, idx)
    parts = rep["tables"]["vectors"]["partitions"]
    assert sum(parts.values()) == 9 and rep["tables"]["vectors"]["docs"] == 9
    vecs = spark.read.parquet(os.path.join(idx, "vectors"))
    c3 = vecs.filter(F.col("vec_id") == 3).select("cluster_id").first()[0]
    c50 = vecs.filter(F.col("vec_id") == 50).select("cluster_id").first()[0]
    assert c3 == c50

    after_append = {
        r.neighbor_id: r.cosine_ppm
        for r in ivf.search_ivf(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert 50 in after_append
    assert after_append[50] == after_append[3]  # same direction, same score

    # takedown: vector 3 leaves; its twin and everything else remain
    assert ivf.delete_from_ivf_index(spark, idx, [3]) == {"vectors": 1}
    after_delete = {
        r.neighbor_id: r.rank
        for r in ivf.search_ivf(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert 3 not in after_delete and after_delete[50] == 1
    assert ivf.ivf_index_report(spark, idx)["tables"]["vectors"]["docs"] == 8


def test_delete_then_compact_then_probe(spark, tmp_path):
    """Lifecycle composition: deletion's rewritten partitions fold
    through compaction like any others — decisions identical before
    and after the compact."""
    from beeper_matric_etl_tool_spark.ext.dedup_index import (
        compact_dedup_index,
    )

    idx = str(tmp_path / "didx_dc")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx)
    append_dedup_index(_docs(spark, [(4, TEXT_D)]), idx, batch_id=0)
    append_dedup_index(_docs(spark, [(5, TEXT_C)]), idx, batch_id=1)
    delete_from_dedup_index(spark, idx, [2, 4])

    def decisions():
        s, d = dedup_against_index(
            _docs(
                spark,
                [(901, TEXT_A), (902, TEXT_B), (904, TEXT_D), (905, TEXT_C)],
            ),
            spark,
            idx,
        )
        return (
            {r.doc_id for r in s.collect()},
            {(r.doc_id, r.ref_id) for r in d.select("doc_id", "ref_id").collect()},
        )

    before = decisions()
    assert before == ({902, 904}, {(901, 1), (905, 5)})
    counts = compact_dedup_index(spark, idx, preserve_last=False)
    assert counts["fingerprints"] == 2  # docs 1 and 5 remain
    assert decisions() == before


def test_takedown_between_stream_batches(spark, tmp_path):
    """The live decontamination scenario: a read-only attribution
    screen is RUNNING when a takedown lands on the shared index — the
    next micro-batch no longer attributes to the removed doc, with no
    stream restart and no binding dance."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from beeper_matric_etl_tool_spark.ext.passage_index import (
        build_passage_index,
        delete_from_passage_index,
    )
    from beeper_matric_etl_tool_spark.streaming.attribution import (
        start_attribution_stream,
    )

    corpus = _docs(
        spark,
        [
            (7, " ".join(f"w{i}" for i in range(60))),
            (8, " ".join(f"x{i}" for i in range(60))),
        ],
    )
    idx = str(tmp_path / "pidx_td")
    build_passage_index(corpus, idx, k=8)
    src = tmp_path / "td_src"
    src.mkdir()
    hits_dir = str(tmp_path / "td_hits")

    def emit(q, name, rows):
        t = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        pq.write_table(t, str(src / name))
        q.processAllAvailable()

    cut7 = " ".join(f"w{i}" for i in range(10, 30))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = start_attribution_stream(
        stream, idx, hits_dir, str(tmp_path / "td_ckpt"), read_only=True
    )
    try:
        emit(q, "b0.parquet", [(600, cut7)])
        # takedown lands while the stream is live
        delete_from_passage_index(spark, idx, [7])
        emit(q, "b1.parquet", [(601, cut7)])
        hits = {
            r.probe_id: (r.doc_id, r.offset)
            for r in spark.read.parquet(hits_dir).collect()
        }
        # batch 0 attributed; batch 1 (same passage, post-takedown) silent
        assert hits == {600: (7, 10)}
    finally:
        q.stop()


def test_crash_healing_interplay_delete_then_compact(spark, tmp_path):
    """r13 interplay pin: a DELETE that crashed between its partition
    renames (original parked under <table>.old, live dir missing) must
    be healed — not destroyed — by a subsequent COMPACT call, and a
    crashed COMPACT (whole table under .old) must be healed by a
    subsequent DELETE. Both directions pinned."""
    import shutil

    from beeper_matric_etl_tool_spark.ext.dedup_index import (
        compact_dedup_index,
    )

    # direction 1: crashed-delete state, then compact
    idx = str(tmp_path / "didx_hx1")
    build_dedup_index(_docs(spark, [(1, TEXT_A)]), idx)
    append_dedup_index(_docs(spark, [(4, TEXT_D)]), idx, batch_id=2)
    fp = os.path.join(idx, "fingerprints")
    os.makedirs(fp + ".old")
    shutil.move(
        os.path.join(fp, f"{BATCH_COL}=2"),
        os.path.join(fp + ".old", f"{BATCH_COL}=2"),
    )
    counts = compact_dedup_index(spark, idx, preserve_last=False)
    assert counts["fingerprints"] == 2  # batch 2's doc survived the heal
    s, d = dedup_against_index(_docs(spark, [(904, TEXT_D)]), spark, idx)
    assert {(r.doc_id, r.ref_id) for r in d.select("doc_id", "ref_id").collect()} == {
        (904, 4)
    }

    # direction 2: crashed-compact state (whole table parked), then delete
    idx2 = str(tmp_path / "didx_hx2")
    build_dedup_index(_docs(spark, [(1, TEXT_A), (2, TEXT_B)]), idx2)
    fp2 = os.path.join(idx2, "fingerprints")
    os.rename(fp2, fp2 + ".old")
    assert delete_from_dedup_index(spark, idx2, [2]) == {
        "fingerprints": 1,
        "signatures": 1,
        "shingles": 1,
    }
    s, d = dedup_against_index(
        _docs(spark, [(901, TEXT_A), (902, TEXT_B)]), spark, idx2
    )
    assert {r.doc_id for r in s.collect()} == {902}


def test_ivf_compaction_folds_append_files(spark, tmp_path):
    """r13: repeated frozen-quantizer appends accumulate a file per
    batch per touched cluster; compaction folds each cluster to one
    file with search verdicts bit-stable."""
    from beeper_matric_etl_tool_spark.ext import similarity_index as ivf

    rows = [(i, [float(i + d) for d in range(4)]) for i in range(1, 9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf_cp")
    ivf.build_ivf_index(emb, idx, k=2, iterations=2)
    for j in range(3):  # three append batches
        extra = spark.createDataFrame(
            [(100 + j, [float(100 + j + d) for d in range(4)])],
            "vec_id long, embedding array<float>",
        )
        ivf.append_ivf_index(extra, idx)

    q = spark.createDataFrame(
        [(900, [5.0, 6.0, 7.0, 8.0])], "vec_id long, embedding array<float>"
    )
    before = sorted(
        (r.neighbor_id, r.cosine_ppm, r.rank)
        for r in ivf.search_ivf(spark, idx, q, k=5, nprobe=2).collect()
    )
    files_before = ivf.ivf_index_report(spark, idx)["tables"]["vectors"]["files"]
    assert files_before > 2  # append batches piled files up

    assert ivf.compact_ivf_index(spark, idx) == 11
    rep = ivf.ivf_index_report(spark, idx)
    assert rep["tables"]["vectors"]["files"] <= 2  # one per cluster
    assert rep["tables"]["vectors"]["rows"] == 11
    after = sorted(
        (r.neighbor_id, r.cosine_ppm, r.rank)
        for r in ivf.search_ivf(spark, idx, q, k=5, nprobe=2).collect()
    )
    assert after == before


def _batched_table(spark, path, rows, id_type="long"):
    spark.createDataFrame(
        rows, f"doc_id {id_type}, v string, {BATCH_COL} long"
    ).write.partitionBy(BATCH_COL).parquet(os.path.join(path, "t"))


def _rows(spark, path):
    return sorted(
        (tuple(r) for r in spark.read.parquet(os.path.join(path, "t")).collect()),
        key=repr,
    )


def test_delete_list_keeps_null_ids_and_counts_a_repeated_id_once(spark, tmp_path):
    """A Python id list deletes through an IN-list filter: a row whose id
    is NULL matches no doomed id and survives the rewrite of its
    partition (as under the DataFrame path's anti join), and an id listed
    twice is deleted and counted once."""
    idx = str(tmp_path / "nulls")
    _batched_table(
        spark, idx,
        [(1, "a", 0), (2, "b", 0), (None, "n", 0), (3, "c", 1), (None, "m", 1)],
    )
    counts = delete_from_batched_tables(spark, idx, ("t",), "doc_id", [2, 2, 3])
    assert counts == {"t": 2}
    assert _rows(spark, idx) == sorted(
        [(1, "a", 0), (None, "n", 0), (None, "m", 1)], key=repr
    )


def test_delete_list_of_string_ids(spark, tmp_path):
    idx = str(tmp_path / "strs")
    _batched_table(
        spark, idx, [("d1", "a", 0), ("d2", "b", 0), ("d3", "c", 1)], "string"
    )
    counts = delete_from_batched_tables(
        spark, idx, ("t",), "doc_id", ["d2", "d3", "absent"]
    )
    assert counts == {"t": 2}
    assert _rows(spark, idx) == [("d1", "a", 0)]


def test_delete_list_and_frame_paths_agree(spark, tmp_path):
    """The IN-list path (Python ids) and the join path (DataFrame ids)
    return the same counts and leave the same rows, NULL ids and repeated
    ids included."""
    rows = [
        (1, "a", 0), (2, "b", 0), (None, "n", 0),
        (3, "c", 1), (4, "d", 1), (5, "e", 2), (None, "m", 2),
    ]
    ids = [2, 3, 3, 5, 99]
    by_list, by_frame = str(tmp_path / "list"), str(tmp_path / "frame")
    _batched_table(spark, by_list, rows)
    _batched_table(spark, by_frame, rows)
    c_list = delete_from_batched_tables(spark, by_list, ("t",), "doc_id", ids)
    c_frame = delete_from_batched_tables(
        spark, by_frame, ("t",), "doc_id",
        spark.createDataFrame([(i,) for i in ids], "id long"),
    )
    assert c_list == c_frame == {"t": 3}
    assert _rows(spark, by_list) == _rows(spark, by_frame) == sorted(
        [(1, "a", 0), (None, "n", 0), (4, "d", 1), (None, "m", 2)], key=repr
    )


def test_ivf_lifecycle_job_budgets(spark, sf_dir, tmp_path):
    """Spark jobs per IVF lifecycle step at sf0.001, from the DAG
    scheduler's job counter: build(k=4, iterations=2) ≤ 8 (seed, two
    Lloyd rounds of two jobs, the centroid write, and the assigning
    write's shuffle and write), append ≤ 2 (no schema-inference job for
    the centroids) and a one-id delete ≤ 4 (no ids table to build)."""
    from beeper_matric_etl_tool_spark.ext import similarity_index as ivf
    from beeper_matric_etl_tool_spark.sources.tables import table as load

    emb = load(spark, sf_dir, "embeddings")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    idx = str(tmp_path / "ivf_jobs")

    def jobs(step):
        j0 = dag.numTotalJobs()
        step()
        return dag.numTotalJobs() - j0

    used = {
        "build": jobs(lambda: ivf.build_ivf_index(emb, idx, k=4, iterations=2)),
        "append": jobs(lambda: ivf.append_ivf_index(
            emb.filter(F.col("vec_id") == 2).select(
                F.lit(9000).cast("long").alias("vec_id"), "embedding"
            ),
            idx,
        )),
        "delete": jobs(lambda: ivf.delete_from_ivf_index(spark, idx, [2])),
    }
    budget = {"build": 8, "append": 2, "delete": 4}
    assert {s: n for s, n in used.items() if n > budget[s]} == {}
