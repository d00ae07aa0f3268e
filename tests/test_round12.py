"""Round-12 additions — the VERDICT-r11 polish items:

- MP4 per-track timing: mdhd (v0 AND v1) gives each track its OWN
  duration on its own timescale (edit-trimmed tracks differ from the
  container's mvhd presentation length) and stts run counts sum to the
  track's sample count, so fps = n_samples / track_duration becomes a
  headers-only routing signal;
- animated-WebP ANMF frame walk: frame count + summed per-frame u24
  durations from the 16-byte ANMF headers (frame bitstreams skipped by
  chunk size), so the media router admits animations on frame count
  and duration instead of a boolean;
- configurable phash banding: dhash_bands/image_dhash_band_frame/the
  dedup task take ``n_bands`` (default 4x16-bit) — 8 bands make
  candidate recall pigeonhole-exact to Hamming 7, ``recall:
  guaranteed`` enforces max_hamming <= n_bands - 1 at config time, and
  a stored incremental index pins its width (the simhash guard,
  extended).

The stream_route_media lifecycle test lives in tests/test_streaming.py.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.operators import RunArguments, TaskContext
from sayn_spark.operators.dedup import DedupTask

SF = "/root/testdata/sf0.001"


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture
def ctx(spark, tmp_path):
    return TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={"sf_dir": SF},
        connections={},
        project_dir=tmp_path,
    )


def _task(ctx, name, cfg):
    t = DedupTask(name, cfg, ctx)
    t.config()
    t.run()
    return t


def _images(n, seed=11, w=16, h=18):
    rng = np.random.default_rng(seed)
    return {
        i: bytes(int(v) for v in rng.integers(0, 256, size=w * h))
        for i in range(n)
    }


# --- 1. MP4 per-track timing (mdhd + stts) ------------------------------


def test_mp4_per_track_timing_and_edit_trim():
    """mdhd duration is the track's OWN media length: an edit-trimmed
    video track reports its (shorter) play time while the container's
    mvhd still reports the presentation length; stts sums to the
    sample count; the untouched audio track keeps the container
    duration and zero samples."""
    from sayn_spark.functions.multimodal import mp4_build, mp4_parse

    dur, n_tracks, tracks = mp4_parse(
        mp4_build(
            640, 360, 10000, with_audio=True,
            video_n_samples=240, video_duration_ms=8000,
        )
    )
    assert (dur, n_tracks) == (10000, 2)
    assert tracks[0] == ("vide", "avc1", 640, 360, 8000, 240, 0)
    assert tracks[1] == ("soun", "mp4a", 0, 0, 10000, 0, 0)
    # fps from headers alone: 240 samples / 8 s = 30 fps
    assert tracks[0][5] * 1000 // tracks[0][4] == 30


def test_mp4_version1_fullboxes_roundtrip():
    """mvhd/tkhd/mdhd version-1 (64-bit times) parse identically — the
    v1 offsets are now witnessed by the builder, not just read."""
    from sayn_spark.functions.multimodal import mp4_build, mp4_parse

    v0 = mp4_parse(mp4_build(320, 240, 5000, video_n_samples=120,
                             video_duration_ms=4000))
    v1 = mp4_parse(mp4_build(320, 240, 5000, video_n_samples=120,
                             video_duration_ms=4000, version1=True))
    assert v0 == v1 == (5000, 1, [("vide", "avc1", 320, 240, 4000, 120, 0)])


def test_mp4_stts_multi_run_sum_and_overflow():
    """stts with SEVERAL runs sums all run counts (hand-built box tree
    — an independent witness of the walk, not the builder's single-run
    shape); a run table overflowing its box raises ValueError."""
    from sayn_spark.functions.multimodal import mp4_parse

    def box(tag, payload):
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def full(tag, payload):
        return box(tag, b"\x00\x00\x00\x00" + payload)

    def tree(stts_payload):
        mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, 1000, 6000)
                    + b"\x00" * 80)
        mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, 500, 3000)
                    + struct.pack(">HH", 0x55C4, 0))
        hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 13)
        stsd = full(b"stsd", struct.pack(">I", 1)
                    + box(b"avc1", b"\x00" * 24
                          + struct.pack(">HH", 64, 48) + b"\x00" * 50))
        stbl = box(b"stbl", stsd + full(b"stts", stts_payload))
        minf = box(b"minf", stbl)
        tkhd = full(b"tkhd", struct.pack(">IIIII", 0, 0, 1, 0, 6000)
                    + b"\x00" * 16 + struct.pack(">9i", *([0x10000, 0, 0,
                      0, 0x10000, 0, 0, 0, 0x40000000]))
                    + struct.pack(">II", 64 << 16, 48 << 16))
        trak = box(b"trak", tkhd + box(b"mdia", mdhd + hdlr + minf))
        return box(b"ftyp", b"isom" + bytes(4)) + box(b"moov", mvhd + trak)

    # three runs: 10 + 25 + 7 = 42 samples; mdhd timescale 500 ticks/s
    # and duration 3000 ticks = 6000 ms
    three_runs = struct.pack(">I", 3) + struct.pack(">II", 10, 100) \
        + struct.pack(">II", 25, 40) + struct.pack(">II", 7, 10)
    dur, n, tracks = mp4_parse(tree(three_runs))
    assert (dur, n) == (6000, 1)
    assert tracks[0] == ("vide", "avc1", 64, 48, 6000, 42, 0)

    # declared run count larger than the box holds: loud ValueError
    with pytest.raises(ValueError, match="stts runs overflow"):
        mp4_parse(tree(struct.pack(">I", 99) + struct.pack(">II", 1, 1)))


def test_mp4_largesize_and_to_eof_boxes():
    """The 64-bit (size==1 largesize) and to-end-of-file (size==0) box
    length encodings parse identically to the plain u32 form —
    exercised by rewriting the trailing empty mdat's header, which the
    top-level walk must still skip correctly to have already yielded
    moov."""
    from sayn_spark.functions.multimodal import mp4_build, mp4_parse

    p = mp4_build(64, 48, 1000, video_n_samples=24)
    assert p[-8:-4] == struct.pack(">I", 8) and p[-4:] == b"mdat"
    want = mp4_parse(p)
    eof = p[:-8] + struct.pack(">I", 0) + b"mdat"
    assert mp4_parse(eof) == want
    large = p[:-8] + struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16)
    assert mp4_parse(large) == want
    # a largesize header cut before its u64 is a loud truncation
    with pytest.raises(ValueError):
        mp4_parse(p[:-8] + struct.pack(">I", 1) + b"mdat")


def test_webp_odd_size_chunk_padding():
    """RIFF pads odd-size chunks with one byte; a walk that forgets the
    pad desyncs on every chunk after an odd one.  Insert a 3-byte
    metadata chunk before the bitstream chunk and parse must still find
    it."""
    from sayn_spark.functions.multimodal import webp_build, webp_parse

    p = webp_build(320, 240)
    odd = b"XMP " + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    patched = p[:12] + odd + p[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert webp_parse(patched) == (320, 240, "vp8", 0, 0, 1, 0)


# --- 2. animated-WebP ANMF frame walk -----------------------------------


def test_webp_anmf_frame_walk():
    """Frame count and total duration from the 16-byte ANMF headers —
    per-frame bitstreams are skipped by chunk size, never decoded."""
    from sayn_spark.functions.multimodal import webp_build, webp_parse

    assert webp_parse(
        webp_build(320, 240, mode="extended", animated=True,
                   frame_durations=(100, 250, 33))
    ) == (320, 240, "vp8x", 0, 1, 3, 383)
    # alpha + animation flags coexist; single explicit frame
    assert webp_parse(
        webp_build(64, 32, mode="extended", alpha=True, animated=True,
                   frame_durations=(1200,))
    ) == (64, 32, "vp8x", 1, 1, 1, 1200)
    # stills are unchanged: one frame, zero duration
    assert webp_parse(webp_build(64, 32))[5:] == (1, 0)


def test_webp_truncated_animation_raises_not_partial():
    """A crawl-truncated animation cut at an ANMF chunk boundary must
    raise, NOT return a partial frame count: a 3.1s animation truncated
    after its 100ms first frame would otherwise be ADMITTED by the
    router's duration < 2s rule (second-pass review finding)."""
    from sayn_spark.functions.multimodal import webp_build, webp_parse

    p = webp_build(320, 240, mode="extended", animated=True,
                   frame_durations=(100, 1500, 1500))
    # find the second ANMF and cut exactly at its chunk boundary: the
    # declared RIFF length now exceeds the payload
    second = p.find(b"ANMF", p.find(b"ANMF") + 4)
    with pytest.raises(ValueError, match="truncated animated WebP"):
        webp_parse(p[:second - 8])
    # the whole file still parses to the full 3100 ms
    assert webp_parse(p)[5:] == (3, 3100)


def test_webp_anmf_error_paths():
    """Two-exception contract around the new walk: an animation-flagged
    container with no ANMF frames and a too-short ANMF header are both
    ValueError; frame_durations misuse fails at build time."""
    from sayn_spark.functions.multimodal import webp_build, webp_parse

    p = bytearray(webp_build(64, 32, mode="extended", animated=True,
                             frame_durations=(50, 60)))
    # truncate right after the VP8X chunk (12 RIFF header + 8 + 10 VP8X)
    trunc = bytes(p[:30])
    trunc = trunc[:4] + struct.pack("<I", len(trunc) - 8) + trunc[8:]
    with pytest.raises(ValueError, match="no ANMF frames"):
        webp_parse(trunc)
    with pytest.raises(ValueError):
        webp_build(64, 32, mode="extended", animated=True,
                   frame_durations=())
    with pytest.raises(ValueError, match="animated=True"):
        webp_build(64, 32, frame_durations=(50,))
    # corrupt an ANMF chunk size down to < 16 header bytes
    i = bytes(p).find(b"ANMF")
    p[i + 4 : i + 8] = struct.pack("<I", 8)
    with pytest.raises(ValueError):
        webp_parse(bytes(p))


# --- 3. configurable phash banding --------------------------------------


def test_dhash_bands_nbands_packing_consistent():
    """8x8-bit bands recombine into the 4x16-bit default (MSB-first
    packing is shared): b16[i] = b8[2i] * 256 + b8[2i+1]; invalid band
    counts raise."""
    from sayn_spark.functions.multimodal import dhash_bands

    rng = np.random.default_rng(5)
    gray = bytes(int(v) for v in rng.integers(0, 256, size=24 * 20))
    b4 = dhash_bands(gray, 24, 20)
    b8 = dhash_bands(gray, 24, 20, n_bands=8)
    b2 = dhash_bands(gray, 24, 20, n_bands=2)
    assert len(b4) == 4 and len(b8) == 8 and len(b2) == 2
    assert b4 == [b8[2 * i] * 256 + b8[2 * i + 1] for i in range(4)]
    assert b2 == [b4[0] * 65536 + b4[1], b4[2] * 65536 + b4[3]]
    for bad in (0, 3, 5, 32, 64):
        with pytest.raises(ValueError, match="n_bands"):
            dhash_bands(gray, 24, 20, n_bands=bad)


def test_phash_full_mode_8band_guaranteed(ctx, spark):
    """method=phash with n_bands=8, recall=guaranteed, max_hamming=7:
    a BMP re-encode (Hamming 0) of a PNG donor dedups; distinct images
    survive — the banded plan is band-count agnostic end to end."""
    from sayn_spark.functions.multimodal import bmp_encode, png_encode

    _drop(spark, "ph8_src", "ph8_out")
    w, h = 16, 18
    raws = _images(3, seed=41)
    rows = [(i, bytearray(png_encode(raws[i], w, h))) for i in range(3)]
    rows.append((100, bytearray(bmp_encode(raws[0], w, h))))
    ctx.db.replace_table(
        "ph8_src",
        spark.createDataFrame(rows, "doc_id long, payload binary"),
    )
    _task(ctx, "ph8", {
        "source": "ph8_src", "destination": "ph8_out", "method": "phash",
        "n_bands": 8, "max_hamming": 7, "recall": "guaranteed",
    })
    assert {r.doc_id for r in spark.table("ph8_out").collect()} == {0, 1, 2}
    _drop(spark, "ph8_src", "ph8_out")


def test_phash_incremental_nbands_width_guard(spark):
    """A phash index written under a different n_bands must raise
    BEFORE any probe or write — the simhash width guard, extended to
    the ba column."""
    from sayn_spark.functions.multimodal import png_encode
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "phnb_idx", "phnb_mt"
    _drop(spark, idx, mt)
    w, h = 16, 18
    raws = _images(2, seed=47)
    b0 = spark.createDataFrame(
        [(1, bytearray(png_encode(raws[0], w, h)))],
        "doc_id long, payload binary",
    )
    dedup_ingest_batch(b0, 0, idx, mt, SF, method="phash")  # default 4
    assert all(len(r.ba) == 4 for r in spark.table(idx).collect())

    b1 = spark.createDataFrame(
        [(2, bytearray(png_encode(raws[1], w, h)))],
        "doc_id long, payload binary",
    )
    with pytest.raises(ValueError, match="4-band.*n_bands=8"):
        dedup_ingest_batch(b1, 1, idx, mt, SF, method="phash", n_bands=8)
    assert {r.doc_id for r in spark.table(idx).collect()} == {1}
    assert not spark.catalog.tableExists(mt)
    # the stored width still ingests fine
    dedup_ingest_batch(b1, 1, idx, mt, SF, method="phash")
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 2}
    _drop(spark, idx, mt)


def test_phash_ingest_default_radius_follows_the_task(spark):
    """With max_hamming omitted, the phash ingest verifies at radius 12,
    the dedup task's phash default: a pair at Hamming 11 that shares a
    dHash band (so the band join makes it a candidate) is matched."""
    from sayn_spark.functions.multimodal import dhash_bands, png_encode
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "phr_idx", "phr_mt"
    _drop(spark, idx, mt)
    w, h = 16, 18
    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, size=w * h)
    b = a.copy()
    k = int(rng.integers(10, 60))
    lower = rng.choice(np.arange(w * h // 2, w * h), size=k, replace=False)
    b[lower] = rng.integers(0, 256, size=k)
    raw_a, raw_b = (bytes(int(v) for v in img) for img in (a, b))
    bands_a, bands_b = dhash_bands(raw_a, w, h), dhash_bands(raw_b, w, h)
    hamming = sum(bin(x ^ y).count("1") for x, y in zip(bands_a, bands_b))
    assert hamming == 11 and bands_a[0] == bands_b[0]
    for i, (doc_id, raw) in enumerate(((1, raw_a), (2, raw_b))):
        batch = spark.createDataFrame(
            [(doc_id, bytearray(png_encode(raw, w, h)))],
            "doc_id long, payload binary",
        )
        dedup_ingest_batch(batch, i, idx, mt, SF, method="phash")
    assert {
        (r.batch_id, r.corpus_id, r.hamming) for r in spark.table(mt).collect()
    } == {(2, 1, 11)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {1}
    _drop(spark, idx, mt)


def test_phash_incremental_8band_catches_reencode(spark):
    """End-to-end 8-band incremental ingest: wave 2's BMP re-encode of
    an indexed PNG donor matches at Hamming 0 against 8-int state."""
    from sayn_spark.functions.multimodal import bmp_encode, png_encode
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "ph8i_idx", "ph8i_mt"
    _drop(spark, idx, mt)
    w, h = 16, 18
    raws = _images(2, seed=53)
    b0 = spark.createDataFrame(
        [(i, bytearray(png_encode(raws[i], w, h))) for i in (0, 1)],
        "doc_id long, payload binary",
    )
    dedup_ingest_batch(b0, 0, idx, mt, SF, method="phash", n_bands=8,
                       max_hamming=7)
    assert all(len(r.ba) == 8 for r in spark.table(idx).collect())
    b1 = spark.createDataFrame(
        [(100, bytearray(bmp_encode(raws[0], w, h)))],
        "doc_id long, payload binary",
    )
    dedup_ingest_batch(b1, 1, idx, mt, SF, method="phash", n_bands=8,
                       max_hamming=7)
    assert {(r.batch_id, r.corpus_id, r.hamming)
            for r in spark.table(mt).collect()} == {(100, 0, 0)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {0, 1}
    _drop(spark, idx, mt)


def test_dedup_stream_ttl_evicts_and_readmits(spark, tmp_path):
    """The streaming exact-dedup TTL is real state eviction, not just a
    docstring: a key reappearing within the TTL is dropped; once the
    watermark passes its event time + TTL the state is gone and the
    key is RE-ADMITTED (and state stays bounded by the TTL horizon —
    the second-pass review found plain dropDuplicates kept every key
    forever)."""
    from sayn_spark.streaming.stateful import dedup_stream

    src = tmp_path / "ev_in"
    src.mkdir()
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    schema = "event_id long, ts timestamp"

    def run_wave(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = (
            dedup_stream(stream, ttl_minutes=60)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    run_wave("w1", [(1, t0), (2, t0)])
    # within-TTL duplicate of 2 is dropped; 3 advances the watermark
    # to t0 + 2h (> t0 + TTL, expiring wave 1's state)
    run_wave("w2", [(2, t0 + timedelta(minutes=10)),
                    (3, t0 + timedelta(hours=3))])
    # key 1 reappears past its TTL: state evicted -> re-admitted
    run_wave("w3", [(1, t0 + timedelta(hours=3, minutes=30))])

    got = sorted(
        (r.event_id, r.ts) for r in spark.read.parquet(out).collect()
    )
    ids = [i for i, _ in got]
    assert ids == [1, 1, 2, 3], got  # 2's dup dropped; 1 admitted twice


def test_state_tables_respect_dev_stringify(spark, tmp_path):
    """Incremental dedup's index/matches tables and the ann_index side
    tables go through the dev/prod stringify like every destination —
    raw names would make a dev run (table_prefix: dev) write into the
    PRODUCTION state tables (second-pass review r12)."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.operators.dedup import DedupTask

    dev_ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(
            default_db="spark", stringify={"table_prefix": "dev"}
        ),
        run_arguments=RunArguments(),
        parameters={"sf_dir": SF},
        connections={},
        project_dir=tmp_path,
    )
    _drop(spark, "dev_sp_src", "dev_sp_idx", "dev_sp_mt", "dev_sp_out",
          "sp_idx", "sp_mt")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the barn "
             "while birds sing in the trees all day long")],
        "doc_id long, text string",
    ).write.mode("overwrite").saveAsTable("dev_sp_src")
    t = DedupTask(
        "sp", {
            "source": "sp_src", "mode": "incremental", "method": "simhash",
            "index_table": "sp_idx", "matches_table": "sp_mt",
            "destination": "sp_out",
        }, dev_ctx,
    )
    t.config()
    t.run()
    # physical state landed under the DEV names, raw names untouched
    assert spark.catalog.tableExists("dev_sp_idx")
    assert not spark.catalog.tableExists("sp_idx")
    # and the state tables are registered outputs (DAG edges exist)
    out_raws = {o.raw for o in t.outputs}
    assert {"sp_idx", "sp_mt", "sp_out"} <= out_raws

    _drop(spark, "dev_sp_ann_centroids", "dev_sp_ann_vectors",
          "sp_ann_centroids", "sp_ann_vectors", "dev_sp_vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    ).write.mode("overwrite").saveAsTable("dev_sp_vecs")
    a = AnnIndexTask(
        "spa", {"source": "sp_vecs", "index": "sp_ann", "n_cells": 2}, dev_ctx
    )
    a.config()
    a.run()
    assert spark.catalog.tableExists("dev_sp_ann_vectors")
    assert not spark.catalog.tableExists("sp_ann_vectors")
    _drop(spark, "dev_sp_src", "dev_sp_idx", "dev_sp_mt", "dev_sp_out",
          "dev_sp_ann_centroids", "dev_sp_ann_vectors", "dev_sp_vecs")


# --- 5. core/plans second-pass review fixes ------------------------------


def test_move_table_repairs_partition_locations(spark):
    """ALTER TABLE RENAME leaves every partition's catalog location at
    the OLD base path, so a renamed partitioned table reads ZERO rows —
    silent data loss, not an error (verified empirically).  move_table
    must repair the partition metadata after the swap."""
    from sayn_spark.core.database import SparkDatabase

    db = SparkDatabase(spark)
    _drop(spark, "mv_src", "mv_dst")
    spark.range(20).selectExpr("id", "id % 2 as p").write.mode(
        "overwrite"
    ).partitionBy("p").saveAsTable("mv_src")
    db.move_table("mv_src", "mv_dst")
    assert spark.table("mv_dst").count() == 20
    assert spark.table("mv_dst").where("p = 1").count() == 10
    _drop(spark, "mv_dst")


def test_merge_tables_preserves_destination_layout(spark):
    """The parquet-fallback merge swaps a staging table over the
    destination: the staging write must carry the destination's OWN
    partitioning and provider or every incremental merge silently
    strips the declared layout (and the rename then loses the data —
    see test_move_table_repairs_partition_locations)."""
    from sayn_spark.core.database import SparkDatabase

    db = SparkDatabase(spark)
    _drop(spark, "ml_dst", "ml_src")
    dst = spark.range(100).selectExpr("id", "id % 3 as p", "cast(id as string) v")
    db.create_table("ml_dst", dst, mode="overwrite", partition_by=["p"])
    src = spark.range(50, 120).selectExpr(
        "id", "id % 3 as p", "concat('new', id) v"
    )
    db.create_table("ml_src", src, mode="overwrite")
    db.merge_tables("ml_src", "ml_dst", "id")
    layout = db.table_layout("ml_dst")
    assert layout["partition_by"] == ["p"]
    assert layout["table_format"] == "parquet"
    assert spark.table("ml_dst").count() == 120
    assert spark.table("ml_dst").where("v like 'new%'").count() == 70
    _drop(spark, "ml_dst")


def test_create_table_append_inherits_layout(spark):
    """An append onto an existing table must match its physical spec:
    Spark rejects a missing partition/bucket spec outright, so
    unspecified aspects inherit the table's own layout instead of the
    session defaults."""
    from sayn_spark.core.database import SparkDatabase

    db = SparkDatabase(spark)
    _drop(spark, "ap_t")
    df = spark.range(10).selectExpr("id", "id % 2 as p")
    db.create_table("ap_t", df, mode="overwrite", partition_by=["p"])
    db.create_table(
        "ap_t", spark.range(10, 15).selectExpr("id", "id % 2 as p"), mode="append"
    )
    assert spark.table("ap_t").count() == 15
    assert db.table_layout("ap_t")["partition_by"] == ["p"]
    _drop(spark, "ap_t")


def test_compact_table_preserves_layout_and_fs_size_fallback(spark):
    """compact_table must rewrite with the table's own layout (a
    session-default rewrite strips partitioning / flips provider) and
    size from the FILESYSTEM when catalog statistics are absent —
    a stats-less table used to read 0 bytes and coalesce(1) the whole
    table through one task."""
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.plans.maintenance import compact_table, table_bytes

    db = SparkDatabase(spark)
    _drop(spark, "cp_t")
    df = spark.range(200).selectExpr("id", "id % 4 as p", "cast(id as string) v")
    db.create_table("cp_t", df.repartition(8), mode="overwrite", partition_by=["p"])
    assert table_bytes(spark, "cp_t") > 0  # FS fallback, no ANALYZE ran
    compact_table(spark, "cp_t")
    assert spark.table("cp_t").count() == 200
    assert db.table_layout("cp_t")["partition_by"] == ["p"]
    _drop(spark, "cp_t")


def test_prod_profile_ignores_sayn_profile_env(tmp_path, monkeypatch):
    """The prod stringify rules come from the DEFAULT profile even when
    SAYN_PROFILE selects another one — otherwise 'prod' silently means
    the dev profile and from_prod reads resolve to dev names."""
    import textwrap

    from sayn_spark.core.settings import load_settings

    (tmp_path / "settings.yaml").write_text(
        textwrap.dedent(
            """
            default_profile: prod
            profiles:
              prod:
                stringify: {}
              dev:
                stringify:
                  table_prefix: dev
            """
        )
    )
    settings = load_settings(tmp_path)
    monkeypatch.setenv("SAYN_PROFILE", "dev")
    active = settings.profile(None)
    prod = settings.prod_profile()
    assert active.stringify.get("table_prefix") == "dev"
    assert prod.stringify.get("table_prefix") != "dev"


def test_split_statements_escaped_backslash_literal():
    """A string literal ending in an ESCAPED backslash closes its quote
    (even run of backslashes) — the one-character check used to stay
    in-quote and swallow every later semicolon."""
    from sayn_spark.core.database import split_statements

    stmts = split_statements("SELECT '\\\\' AS x; SELECT 2")
    assert len(stmts) == 2 and stmts[1].strip() == "SELECT 2"
    # an escaped QUOTE still does not close the string
    stmts = split_statements("SELECT 'a\\';b' AS x; SELECT 2")
    assert len(stmts) == 2 and stmts[1].strip() == "SELECT 2"


def test_standard_tests_execute_false_wins_over_allowed_values(spark):
    """A test dict carrying both allowed_values and execute: False is a
    DISABLED test — the opt-out must be checked before the kind."""
    from sayn_spark.plans.quality import standard_tests_plan

    df = spark.createDataFrame([("x",), ("y",)], "c string")
    plan = standard_tests_plan(
        df, [{"name": "c", "tests": [{"allowed_values": ["a"], "execute": False}]}]
    )
    assert plan is None  # no probes at all


def test_salted_join_tolerates_map_columns(spark):
    """F.hash rejects MapType outright; the salt scatter must skip such
    columns (any salt assignment is correct — the small side is
    replicated to every salt value)."""
    from sayn_spark.plans.skew import salted_join

    big = spark.createDataFrame(
        [(1, {"a": "b"}, 10), (1, {"c": "d"}, 20), (2, {}, 30)],
        "k long, m map<string,string>, v long",
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    got = salted_join(big, small, "k").groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in got} == {(1, 2), (2, 1)}


def test_csv_read_defaults_apply_independently(spark, tmp_path):
    """An explicit header option must not disable schema inference and
    an explicit inferSchema must never be overridden (review r12)."""
    from sayn_spark.sources.registry import read_source

    p = tmp_path / "c.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    got = read_source(spark, {"type": "csv", "path": str(p), "header": "true"})
    assert dict(got.dtypes)["a"] == "int"  # inference still on
    got = read_source(
        spark, {"type": "csv", "path": str(p), "inferSchema": "false"}
    )
    assert dict(got.dtypes)["a"] == "string"  # explicit choice honoured


def test_python_task_defaults_and_multi_output_guard(spark, tmp_path):
    """Function params with defaults (and **kwargs) need no injection;
    returning a DataFrame with several declared outputs is an explicit
    error instead of a hash-order-dependent write (review r12)."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.python import DecoratedPythonTask, task

    ctx = TaskContext(
        spark=spark, db=SparkDatabase(spark), compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )

    seen = {}

    @task(name="py_defaults")
    def py_defaults(context, spark, limit=7, **extra):
        seen["limit"] = limit

    t = DecoratedPythonTask("py_defaults", {}, ctx)
    t.config()
    t.run()
    assert seen["limit"] == 7  # default applied, no injection error

    @task(name="py_two_out", outputs=["out_a", "out_b"])
    def py_two_out(context, spark):
        return spark.range(3)

    t2 = DecoratedPythonTask("py_two_out", {}, ctx)
    t2.config()
    with pytest.raises(ValueError, match="exactly ONE declared output"):
        t2.run()


def test_class_python_task_forwards_tracker(spark, tmp_path):
    """The run-time tracker the App attaches to the outer task must
    reach the inner impl — class-form PythonTasks logged into the null
    tracker and every self.info/set_run_steps vanished (review r12)."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.python import ModulePythonTask, PythonTask

    class Impl(PythonTask):
        def config(self):
            from sayn_spark.operators.base import TaskStatus

            self.status = TaskStatus.READY

        def run(self):
            self.info("hello from impl")

    class Probe:
        def __init__(self):
            self.messages = []

        def info(self, message, **details):
            self.messages.append(message)

        def __getattr__(self, name):  # absorb other tracker calls
            return lambda *a, **k: None

    ctx = TaskContext(
        spark=spark, db=SparkDatabase(spark), compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )
    t = ModulePythonTask("cls_probe", {"task_class": Impl}, ctx)
    t.config()
    probe = Probe()
    t.tracker = probe  # what App does right before execution
    t.run()
    assert probe.messages == ["hello from impl"]


def test_media_router_rules_nonvacuous():
    """The example pipeline's admission rules are live on its own
    generated payloads: every arm (video fps band, WebP/GIF still or
    short-animation, JPEG/PNG/BMP stills dims band, MP3/WAV audio
    duration) both admits and rejects — replicated in pure Python over
    the real sf0.001 document lengths (kind = n % 8, mirroring
    make_media_payloads) so a formula drift that makes a rule vacuous
    fails here, not silently in the pipeline's empty-is-pass test."""
    import duckdb

    from sayn_spark.functions.multimodal import (
        bmp_encode,
        bmp_parse,
        gif_encode,
        gif_encode_animated,
        gif_meta,
        jpeg_encode,
        jpeg_parse,
        mp3_build,
        mp3_parse,
        mp4_build,
        mp4_parse,
        png_encode,
        png_parse,
        wav_encode,
        wav_parse,
        webp_build,
        webp_parse,
    )

    def stills_ok(w, h):
        return min(w, h) >= 32 and max(w, h) <= 2048

    lens = [
        r[0]
        for r in duckdb.sql(
            f"SELECT length(text) FROM read_parquet('{SF}/documents.parquet') "
            "WHERE doc_id % 7 = 0 AND length(text) > 0"
        ).fetchall()
    ]
    assert lens
    keys = ("video", "mp3", "webp", "jpeg", "png", "gif", "bmp", "wav")
    admit = dict.fromkeys(keys, 0)
    reject = dict.fromkeys(keys, 0)
    for n in lens:
        kind = n % 8
        if kind == 0:
            p = mp4_build(
                16 * ((n % 40) + 8), 16 * (((n * 3) % 30) + 6), n * 37 + 40,
                with_audio=n % 2 == 1,
                video_n_samples=(n % 300) + 2,
                video_duration_ms=(n * 37 + 40) * 3 // 4 + 1,
            )
            _, _, tracks = mp4_parse(p)
            vid = next(t for t in tracks if t[0] == "vide")
            fps_milli = vid[5] * 1_000_000 // vid[4]
            ok = vid[2] > 0 and vid[2] >= vid[3] and 5000 <= fps_milli <= 120000
            key = "video"
        elif kind == 1:
            p = mp3_build((n % 150) + 5, (64, 128, 192, 320)[n % 4], 44100,
                          1 if n % 2 == 1 else 2,
                          id3_bytes=120 if n % 9 < 3 else 0)
            dur = mp3_parse(p)[0]
            ok = dur >= 2000
            key = "mp3"
        elif kind == 2:
            animated = n % 9 // 3 == 2 and n % 2 == 0
            p = webp_build(
                (n % 1200) + 16, ((n * 3) % 900) + 16,
                mode=("lossy", "lossless", "extended")[n % 9 // 3],
                animated=animated,
                frame_durations=(((n * 17) % 3000 + 10,) * ((n % 4) + 2)
                                 if animated else None),
            )
            _, _, _, _, anim, nf, dur = webp_parse(p)
            ok = nf == 1 or (anim == 1 and dur < 2000)
            key = "webp"
        elif kind == 3:
            w, h = 8 * ((n % 9) + 1), 8 * (((n // 2) % 9) + 1)
            p = jpeg_encode(bytes((x * 7 + y * 13 + n) % 256
                                  for y in range(h) for x in range(w)), w, h)
            pw, ph, _ = jpeg_parse(p)
            ok = stills_ok(pw, ph)
            key = "jpeg"
        elif kind == 4:
            w, h = (n % 48) + 8, ((n * 3) % 90) + 40
            p = png_encode(bytes((x * 5 + y * 11 + n) % 256
                                 for y in range(h) for x in range(w)), w, h)
            pw, ph, _, _ = png_parse(p)
            ok = stills_ok(pw, ph)
            key = "png"
        elif kind == 5:
            w, h = (n % 90) + 8, ((n * 7) % 90) + 8
            px = bytes((x * 3 + y * 17 + n) % 256
                       for y in range(h) for x in range(w))
            if (n // 8) % 2 == 0:
                p = gif_encode_animated(
                    [(px, 0, 0, w, h, (n % 120) + 5, 0, None)]
                    * ((n % 3) + 2), w, h)
            else:
                p = gif_encode(px, w, h)
            _, _, nf, dur = gif_meta(p)
            ok = nf == 1 or (nf > 1 and dur < 2000)
            key = "gif"
        elif kind == 6:
            w, h = (n % 90) + 8, ((n * 5) % 90) + 8
            p = bmp_encode(bytes((x * 9 + y * 23 + n) % 256
                                 for y in range(h) for x in range(w)), w, h)
            pw, ph, _ = bmp_parse(p)
            ok = stills_ok(pw, ph)
            key = "bmp"
        else:
            p = wav_encode([(i * 997 + n) % 4096 - 2048
                            for i in range(((n % 60) + 4) * 1000)], 16000)
            rate, _, _, nfr = wav_parse(p, want_samples=False)
            ok = nfr * 1000 // rate >= 2000
            key = "wav"
        (admit if ok else reject)[key] += 1
    for key in keys:
        assert admit[key] > 0, f"{key} arm admits nothing"
        assert reject[key] > 0, f"{key} arm rejects nothing"
