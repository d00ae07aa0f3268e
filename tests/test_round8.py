"""Round-8 additions: containment-gate recall instrument (VERDICT r7
item 2), its cross-engine part-function agreement, and the dedup
task's image method (``method: phash``, VERDICT r7 item 3)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_part_function_matches_bit_length(spark):
    """The production gate partitions by floor(log2(n)) (Spark libm);
    the recall instrument's DuckDB oracle uses len(bin(n)) - 1, which
    is exact by construction.  They must agree for every realistic set
    size or the instrument would measure a DIFFERENT gate than the one
    production runs — libm log2 returning 2^k - eps at a power of two
    would be the failure mode."""
    df = spark.range(1, 300001).select(
        F.floor(F.log2("id")).cast("int").alias("prod"),
        (F.length(F.bin("id")) - 1).cast("int").alias("exact"),
    )
    assert df.where(F.col("prod") != F.col("exact")).count() == 0


def test_containment_recall_report_shape(spark):
    """The instrument's integer invariants on the tiny corpus: found
    pairs are a subset of band candidates, screened of candidates, and
    the out-of-contract miss count is consistent with the splits."""
    from sayn_spark.functions import REGISTRY

    row = REGISTRY["q_dedup_containment_recall"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_true_in_contract"] <= row["n_true_pairs"]
    assert row["n_found"] <= row["n_band_true"] <= row["n_true_pairs"]
    assert row["n_screened"] <= row["n_candidates"]
    assert row["n_found_in_contract"] <= row["n_found"]
    assert row["n_missed_out_contract"] == (
        row["n_true_pairs"] - row["n_true_in_contract"]
    ) - (row["n_found"] - row["n_found_in_contract"])
    # the planted snippet corpus always yields in-contract pairs, and
    # the gate's contract guarantees it recovers them
    assert row["n_true_in_contract"] > 0
    assert row["recall_in_contract_ppm"] == 1000000


# --- dedup task method: phash (VERDICT r7 item 3) ---------------------------


def _group_images(seed: int = 8):
    """30 deterministic 18x16 grayscale images: 6 groups of 5 sharing a
    base image, non-anchors add sparse +24 noise — the registered
    q_multimodal_phash_dedup corpus design at real-decode size.  Base
    values stay <= 200 so the noise never wraps a byte.  Payloads cycle
    PNG / BMP / GIF so the magic-sniffed decode path is exercised on
    every format the module implements."""
    from sayn_spark.functions.multimodal import bmp_encode, gif_encode, png_encode

    rng = np.random.default_rng(seed)
    w, h = 16, 18
    encoders = [png_encode, bmp_encode, gif_encode]
    rows = []
    pixel_map = {}
    for g in range(6):
        base = rng.integers(0, 201, size=h * w, dtype=np.int64)
        for member in range(5):
            doc_id = g * 5 + member
            px = base.copy()
            if member != 0:
                hot = rng.choice(h * w, size=6, replace=False)
                px[hot] += 24
            raw = bytes(int(v) for v in px)
            pixel_map[doc_id] = (raw, w, h)
            rows.append((doc_id, bytearray(encoders[doc_id % 3](raw, w, h))))
    return rows, pixel_map


def _model_dhash(raw: bytes, w: int, h: int):
    """Pure-python (no numpy) re-implementation of the dHash band
    spec: mean-pool to 8x9 with floor boundaries (clamped to one pixel
    minimum), compare horizontal neighbours row-major, pack 4 MSB-first
    16-bit ints."""
    ys = [(i * h) // 8 for i in range(9)]
    xs = [(i * w) // 9 for i in range(10)]
    thumb = [[0.0] * 9 for _ in range(8)]
    for ty in range(8):
        y0, y1 = ys[ty], max(ys[ty + 1], ys[ty] + 1)
        for tx in range(9):
            x0, x1 = xs[tx], max(xs[tx + 1], xs[tx] + 1)
            vals = [raw[y * w + x] for y in range(y0, y1) for x in range(x0, x1)]
            thumb[ty][tx] = sum(vals) / len(vals)
    bits = [
        1 if thumb[y][x + 1] > thumb[y][x] else 0 for y in range(8) for x in range(8)
    ]
    bands = []
    for b in range(4):
        acc = 0
        for v in bits[b * 16 : (b + 1) * 16]:
            acc = acc * 2 + v
        bands.append(acc)
    return bands


def _model_phash_kept(pixel_map, max_hamming: int = 12):
    """Independent model of the whole task: banded LSH candidates ->
    Hamming verify -> union-find -> min-id per cluster."""
    bands = {d: _model_dhash(*pm) for d, pm in pixel_map.items()}
    pairs = []
    ids = sorted(bands)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if any(bands[a][k] == bands[b][k] for k in range(4)):
                ham = sum(bin(x ^ y).count("1") for x, y in zip(bands[a], bands[b]))
                if ham <= max_hamming:
                    pairs.append((a, b))
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo
    clusters = {}
    for d in ids:
        clusters.setdefault(find(d), []).append(d)
    return {min(members) for members in clusters.values()}, clusters


@pytest.fixture
def dedup_ctx(spark, tmp_path):
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext

    return TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={"sf_dir": SF_SMOKE},
        connections={},
        project_dir=tmp_path,
    )


def _run_task(ctx, name, cfg):
    from sayn_spark.operators.dedup import DedupTask

    t = DedupTask(name, cfg, ctx)
    t.config()
    t.run()
    return t


def test_phash_task_lifecycle_matches_model(dedup_ctx, spark):
    """method=phash end-to-end on mixed PNG/BMP/GIF payloads: the kept
    set must equal an independent pure-python model of band-LSH ->
    Hamming <= 12 -> union-find -> keep-min.  Also proves the three
    container decoders produce the same grayscale plane (a format-split
    group still clusters)."""
    rows, pixel_map = _group_images()
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dedup_ctx.db.replace_table("ph_src", df)
    _run_task(
        dedup_ctx,
        "ph_dedup",
        {"source": "ph_src", "destination": "ph_out", "method": "phash"},
    )
    got = {r.doc_id for r in spark.table("ph_out").collect()}
    want, clusters = _model_phash_kept(pixel_map)
    assert got == want
    # sanity on the corpus itself: the noise kept groups clustered
    # (some group must have >= 2 members) or the test proves nothing
    assert any(len(m) >= 2 for m in clusters.values())


def test_phash_task_keep_soft_weights(dedup_ctx, spark):
    """keep=soft with phash: every row survives, weight_ppm = 1e6 //
    cluster size from the same independent model."""
    rows, pixel_map = _group_images(seed=9)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dedup_ctx.db.replace_table("ph_soft_src", df)
    _run_task(
        dedup_ctx,
        "ph_soft",
        {
            "source": "ph_soft_src",
            "destination": "ph_soft_out",
            "method": "phash",
            "keep": "soft",
        },
    )
    got = {r.doc_id: r.weight_ppm for r in spark.table("ph_soft_out").collect()}
    _, clusters = _model_phash_kept(pixel_map)
    size_of = {}
    for members in clusters.values():
        for d in members:
            size_of[d] = len(members)
    want = {d: 1000000 // size_of[d] for d in size_of}
    assert got == want


def test_phash_task_exact_duplicate_across_formats(dedup_ctx, spark):
    """The SAME image encoded as PNG, BMP, and GIF must dedupe to one
    kept row: the decoders agree byte-for-byte on the grayscale plane,
    so the dHash distance is 0."""
    from sayn_spark.functions.multimodal import bmp_encode, gif_encode, png_encode

    raw = bytes(
        hashlib.md5(f"px{i}".encode()).digest()[0] % 200 for i in range(16 * 18)
    )
    rows = [
        (1, bytearray(png_encode(raw, 16, 18))),
        (2, bytearray(bmp_encode(raw, 16, 18))),
        (3, bytearray(gif_encode(raw, 16, 18))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dedup_ctx.db.replace_table("ph_fmt_src", df)
    _run_task(
        dedup_ctx,
        "ph_fmt",
        {"source": "ph_fmt_src", "destination": "ph_fmt_out", "method": "phash"},
    )
    got = {r.doc_id for r in spark.table("ph_fmt_out").collect()}
    assert got == {1}


def test_image_gray_pixels_jpeg_decodes_and_unknown_raises():
    """The sniffing decoder now covers baseline JPEG (r8 codec); a
    genuinely unknown magic still raises at the documented boundary."""
    from sayn_spark.functions.multimodal import image_gray_pixels, jpeg_encode

    img = bytes((i * 7) % 200 for i in range(64)) * 4  # 16x16, blockish
    w, h, gray = image_gray_pixels(jpeg_encode(img, 16, 16))
    assert (w, h) == (16, 16) and len(gray) == 256
    with pytest.raises(NotImplementedError):
        image_gray_pixels(b"RIFF" + b"\x00" * 32)


def test_phash_task_on_decode_error(dedup_ctx, spark):
    """A corrupt payload in the corpus: on_decode_error=skip keeps the
    undecodable doc (it never becomes a candidate) and the rest dedupe
    normally; the default (fail) raises — one bad byte stream must not
    silently vanish from a curated corpus."""
    from sayn_spark.functions.multimodal import bmp_encode

    raw = bytes((i * 3) % 200 for i in range(16 * 18))
    rows = [
        (1, bytearray(bmp_encode(raw, 16, 18))),
        (2, bytearray(bmp_encode(raw, 16, 18))),  # exact dup of 1
        (3, bytearray(b"\xff\xd8\xff")),  # truncated JPEG: undecodable
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dedup_ctx.db.replace_table("ph_err_src", df)
    _run_task(
        dedup_ctx,
        "ph_err_skip",
        {
            "source": "ph_err_src",
            "destination": "ph_err_out",
            "method": "phash",
            "on_decode_error": "skip",
        },
    )
    got = {r.doc_id for r in spark.table("ph_err_out").collect()}
    assert got == {1, 3}  # dup 2 dropped; corrupt 3 conservatively kept

    with pytest.raises(Exception):
        _run_task(
            dedup_ctx,
            "ph_err_fail",
            {
                "source": "ph_err_src",
                "destination": "ph_err_fail_out",
                "method": "phash",
            },
        )
    # option is phash-only
    from sayn_spark.operators.dedup import DedupTask

    t = DedupTask(
        "bad",
        {"source": "t", "destination": "o", "method": "exact",
         "on_decode_error": "skip"},
        dedup_ctx,
    )
    with pytest.raises(ValueError):
        t.config()


# --- round-8 code-review fixes ----------------------------------------------


def test_jpeg_parse_crops_non_multiple_of_8_frames():
    """SOF0 dimensions need not be multiples of 8: edge MCUs are
    encoded full-size and cropped to the frame (T.81 A.2.4).  Encode a
    16x16, rewrite the SOF dims to 13x11 — the decoder must return the
    cropped plane, not crash on a broadcast mismatch."""
    import struct

    from sayn_spark.functions.multimodal import jpeg_encode, jpeg_parse

    img = bytes((x * 7 + y * 13) % 200 for y in range(16) for x in range(16))
    payload = bytearray(jpeg_encode(img, 16, 16))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 5 : sof + 9] = struct.pack(">HH", 11, 13)  # height, width
    w, h, nc, px = jpeg_parse(bytes(payload), want_pixels=True)
    assert (w, h, nc) == (13, 11, 1)
    assert len(px) == 13 * 11
    # cropped pixels equal the full decode's top-left corner
    _, _, _, full = jpeg_parse(jpeg_encode(img, 16, 16), want_pixels=True)
    want = bytes(full[y * 16 + x] for y in range(11) for x in range(13))
    assert px == want


def test_jpeg_encode_rejects_bad_quant():
    from sayn_spark.functions.multimodal import jpeg_encode

    img = bytes(64)
    for bad in ([0] + [1] * 63, [256] + [1] * 63, [1.5] + [1] * 63, [1] * 63):
        with pytest.raises(ValueError, match="quant"):
            jpeg_encode(img, 8, 8, quant=bad)


def test_semantic_contamination_exact_beyond_int64(spark):
    """Two highly repetitive ~35k-token documents push h^2*l2a*l2b past
    int64; the DECIMAL(38,0) verdict must still flag the identical pair
    (a silent bigint wrap would clear or flag arbitrarily)."""
    from sayn_spark.functions.content_filter import semantic_contaminated_ids

    text = " ".join(["tok"] * 35000)
    docs = spark.createDataFrame([(1, text), (2, "completely different words")],
                                 "doc_id long, text string")
    ev = spark.createDataFrame([(text,)], "text string")
    got = {r.doc_id for r in semantic_contaminated_ids(docs, ev).collect()}
    assert got == {1}


def test_ann_search_large_shortlist_without_cascade_config(dedup_ctx):
    """A non-cascade config with shortlist > 50 must pass config() —
    shortlist_binary only constrains when explicitly set (the dispatch
    is catalog-driven at run time)."""
    from sayn_spark.operators.ann_search import AnnSearchTask

    t = AnnSearchTask(
        "big_sl",
        {"index": "ix", "queries": "q", "destination": "d", "shortlist": 100},
        dedup_ctx,
    )
    t.config()
    assert t.shortlist_binary == 100  # tiers still ordered if cascade


def test_phash_task_rejects_string_ids(dedup_ctx, spark):
    """A string id column would BIGINT-cast to NULL and silently drop
    every candidate — the task must raise instead."""
    from sayn_spark.functions.multimodal import bmp_encode

    raw = bytes(16 * 18)
    df = spark.createDataFrame(
        [("img-1", bytearray(bmp_encode(raw, 16, 18)))],
        "doc_id string, payload binary",
    )
    dedup_ctx.db.replace_table("ph_sid_src", df)
    with pytest.raises(ValueError, match="integer id_column"):
        _run_task(
            dedup_ctx,
            "ph_sid",
            {"source": "ph_sid_src", "destination": "ph_sid_out", "method": "phash"},
        )


def test_dedup_phash_options_rejected_on_other_methods(dedup_ctx):
    from sayn_spark.operators.dedup import DedupTask

    # r9: max_hamming is now shared with simhash (both Hamming-verified)
    for extra, msg in (
        ({"max_hamming": 4}, "phash.simhash only"),
        ({"payload_column": "img"}, "phash only"),
    ):
        t = DedupTask(
            "bad",
            {"source": "t", "destination": "o", "method": "minhash", **extra},
            dedup_ctx,
        )
        with pytest.raises(ValueError, match=msg):
            t.config()
