"""Round-11 additions, part 1 — the three ADVICE-r10 hardenings of the
incremental dedup ingest and the editdistance instrument corpus:

- a simhash index written under a different n_bands must raise BEFORE
  any probe or write (a width mismatch folds every probe key to NULL,
  silently declaring every duplicate novel);
- empty / whitespace-only text routes to the trivially-novel sigless
  path for method=editdistance (previously all such docs shared the
  degenerate 'p:'/'s:' block key and candidated each other
  quadratically);
- _ed_corpus derives its mutated-id offset from max(doc_id) (floored
  at the historical 100000) so instrument ids never collide with real
  documents at any scale factor, and carries the donor id explicitly
  as base_id instead of re-deriving it with modular arithmetic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simhash_nbands_mismatch_raises_before_any_write(spark):
    """Changing n_bands between ingests is a silent-zero-match hazard:
    the stored sig arrays have the old width, so sig_o[b] and every
    packed probe key folds to NULL.  The ingest must refuse up front —
    and must not have touched the matches table or appended any state
    before raising (validation precedes writes)."""
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "nb_idx", "nb_mt"
    _drop(spark, idx, mt)
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall trees"
    )
    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    dedup_ingest_batch(b0, 0, idx, mt, SF, method="simhash", n_bands=8)
    idx_before = sorted(r.doc_id for r in spark.table(idx).collect())

    b1 = spark.createDataFrame([(2, base)], "doc_id long, text string")
    with pytest.raises(ValueError, match="8-band.*n_bands=16"):
        dedup_ingest_batch(b1, 1, idx, mt, SF, method="simhash", n_bands=16)
    # nothing written: index unchanged, matches table never created
    assert sorted(r.doc_id for r in spark.table(idx).collect()) == idx_before
    assert not spark.catalog.tableExists(mt)

    # the original width still ingests fine (and catches the copy)
    dedup_ingest_batch(b1, 1, idx, mt, SF, method="simhash", n_bands=8)
    assert {(r.batch_id, r.corpus_id) for r in spark.table(mt).collect()} == {
        (2, 1)
    }
    _drop(spark, idx, mt)


def test_simhash_nbands_check_skips_empty_sig_rows(spark):
    """Stateless docs are indexed with an EMPTY sig array; the width
    check must sample a NON-empty row (or pass when none exists) rather
    than mistaking size(array())=0 for a stored width."""
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "nbe_idx", "nbe_mt"
    _drop(spark, idx, mt)
    # wave 1 is entirely stateless: index holds only empty sigs
    b0 = spark.createDataFrame(
        [(1, None), (2, "   ")], "doc_id long, text string"
    )
    dedup_ingest_batch(b0, 0, idx, mt, SF, method="simhash", n_bands=8)
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 2}
    # any n_bands is acceptable against an all-empty index
    b1 = spark.createDataFrame(
        [(3, "real content words here today")], "doc_id long, text string"
    )
    dedup_ingest_batch(b1, 1, idx, mt, SF, method="simhash", n_bands=16)
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 2, 3}
    _drop(spark, idx, mt)


def test_editdistance_empty_text_is_trivially_novel(spark):
    """Empty and whitespace-only texts must not enter the editdistance
    probe state: they would all share the degenerate block key and
    candidate each other quadratically.  They index as NULL text
    (trivially novel), never match, and converge on rerun."""
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "edw_idx", "edw_mt"
    _drop(spark, idx, mt)
    rows = [(1, ""), (2, "   "), (3, "\t\n"), (4, None),
            (5, "real content about engines")]
    b0 = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ingest_batch(b0, 0, idx, mt, SF, method="editdistance")
    got = {r.doc_id: r.text for r in spark.table(idx).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # degenerate docs stored stateless (NULL text), the real doc as-is
    assert got[1] is None and got[2] is None and got[3] is None and got[4] is None
    assert got[5] == "real content about engines"
    # no Levenshtein-0 empty-vs-empty matches were emitted
    assert not spark.catalog.tableExists(mt) or spark.table(mt).count() == 0

    # rerun with the same source: everything already indexed, no-op
    b1 = spark.createDataFrame(rows + [(6, "  ")], "doc_id long, text string")
    dedup_ingest_batch(b1, 1, idx, mt, SF, method="editdistance")
    assert spark.table(idx).count() == 6
    assert not spark.catalog.tableExists(mt) or spark.table(mt).count() == 0
    _drop(spark, idx, mt)


def test_ed_corpus_offset_scales_past_100k(spark, tmp_path):
    """With base doc_ids >= 100000 the historical fixed +100000 offset
    would alias mutated ids onto real documents; the max-derived offset
    keeps the three id namespaces disjoint and base_id names the donor
    exactly."""
    from sayn_spark.functions.dedup import _ed_corpus

    docs = spark.createDataFrame(
        [(0, "alpha text", "en"), (150000, "beta text", "en")],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    corpus = _ed_corpus(spark, str(tmp_path))
    rows = {(r.doc_id, r.base_id, r.text) for r in corpus.collect()}
    off = 150001  # max(doc_id) + 1 > 100000 floor
    assert rows == {
        (0, 0, "alpha text"),
        (150000, 150000, "beta text"),
        (0 + off, 0, "alpha text zz qq"),
        (150000 + off, 150000, "beta text zz qq"),
        (0 + 2 * off, 0, "zq alpha text"),
        (150000 + 2 * off, 150000, "zq beta text"),
    }
    # no id collisions across the three namespaces
    assert corpus.count() == corpus.select("doc_id").distinct().count()


def test_ed_corpus_ids_unchanged_below_100k(spark):
    """On every corpus under 100k docs the offset is literally 100000,
    so instrument outputs (and their driver hashes) are byte-identical
    to the historical fixed-offset scheme."""
    from sayn_spark.functions.dedup import _ed_corpus

    corpus = _ed_corpus(spark, SF)
    mx = corpus.agg(
        F.max(F.col("doc_id") - F.col("base_id")).alias("mx")
    ).collect()[0]["mx"]
    assert mx == 200000


# -- incremental phash (VERDICT r10 item 3) ----------------------------------


import numpy as np

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.operators import RunArguments, TaskContext
from sayn_spark.operators.dedup import DedupTask


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
    """n deterministic distinct random images as (doc_id, raw bytes):
    two independent 64-bit dHashes differ ~32 bits on average, so at
    radius 12 distinct images never false-match."""
    rng = np.random.default_rng(seed)
    return {
        i: bytes(int(v) for v in rng.integers(0, 256, size=w * h))
        for i in range(n)
    }


def test_phash_incremental_lifecycle(ctx, spark):
    """Two-run (plus rerun) lifecycle of the dHash band index: run 1
    seeds the index from PNG payloads, run 2 reports RE-ENCODED copies
    (identical pixels, BMP container -> dHash Hamming 0) of INDEXED
    donors against the stored 4-int state, run 3 is a no-op.  The
    index stores (doc_id, ba) only — payloads never persist."""
    from sayn_spark.functions.multimodal import bmp_encode, png_encode

    tables = ("ph_inc_src", "ph_inc_idx", "ph_inc_mt", "ph_inc_out")
    _drop(spark, *tables)
    w, h = 16, 18
    raws = _images(8)
    cfg = {
        "source": "ph_inc_src",
        "mode": "incremental",
        "method": "phash",
        "index_table": "ph_inc_idx",
        "matches_table": "ph_inc_mt",
        "destination": "ph_inc_out",
    }

    wave1 = spark.createDataFrame(
        [(i, bytearray(png_encode(raws[i], w, h))) for i in range(6)],
        "doc_id long, payload binary",
    )
    ctx.db.replace_table("ph_inc_src", wave1)
    _task(ctx, "ph_inc", cfg)
    assert spark.table("ph_inc_idx").columns == ["doc_id", "ba"]
    idx1 = {r.doc_id for r in spark.table("ph_inc_idx").collect()}
    assert idx1 == set(range(6))  # distinct images: all novel
    assert {r.doc_id for r in spark.table("ph_inc_out").collect()} == idx1

    # wave 2: two novel images plus BMP re-encodes of indexed donors
    wave2 = wave1.unionByName(
        spark.createDataFrame(
            [(i, bytearray(png_encode(raws[i], w, h))) for i in (6, 7)]
            + [
                (100 + i, bytearray(bmp_encode(raws[i], w, h)))
                for i in (0, 3)
            ],
            "doc_id long, payload binary",
        )
    )
    ctx.db.replace_table("ph_inc_src", wave2)
    _task(ctx, "ph_inc", cfg)
    matches = spark.table("ph_inc_mt")
    assert "hamming" in matches.columns
    got = {(r.batch_id, r.corpus_id, r.hamming) for r in matches.collect()}
    assert {(100, 0, 0), (103, 3, 0)} <= got
    idx2 = {r.doc_id for r in spark.table("ph_inc_idx").collect()}
    assert idx2 == set(range(8))  # twins never enter the index
    assert {r.doc_id for r in spark.table("ph_inc_out").collect()} == idx2

    # run 3: unchanged source -> no-op
    _task(ctx, "ph_inc", cfg)
    assert {r.doc_id for r in spark.table("ph_inc_idx").collect()} == idx2
    assert spark.table("ph_inc_mt").count() == len(got)
    _drop(spark, *tables)


def test_phash_incremental_decode_error_modes(ctx, spark):
    """on_decode_error flows through the incremental path: under skip,
    an undecodable payload (and a NULL payload) is indexed as trivially
    novel with an EMPTY band array — kept conservatively, converged on
    rerun, never a candidate; under the default fail it raises."""
    from sayn_spark.functions.multimodal import png_encode

    tables = ("ph_err_src", "ph_err_idx", "ph_err_mt", "ph_err_out")
    _drop(spark, *tables)
    w, h = 16, 18
    raws = _images(1, seed=23)
    rows = [
        (1, bytearray(png_encode(raws[0], w, h))),
        (2, bytearray(b"garbage-not-an-image")),
        (3, None),
    ]
    ctx.db.replace_table(
        "ph_err_src",
        spark.createDataFrame(rows, "doc_id long, payload binary"),
    )
    cfg = {
        "source": "ph_err_src",
        "mode": "incremental",
        "method": "phash",
        "index_table": "ph_err_idx",
        "matches_table": "ph_err_mt",
        "destination": "ph_err_out",
        "on_decode_error": "skip",
    }
    _task(ctx, "ph_err", cfg)
    got = {r.doc_id: r.ba for r in spark.table("ph_err_idx").collect()}
    assert set(got) == {1, 2, 3}
    assert len(got[1]) == 4 and got[2] == [] and got[3] == []
    # rerun converges (no-op), including for the stateless docs
    _task(ctx, "ph_err", cfg)
    assert spark.table("ph_err_idx").count() == 3
    assert (
        not spark.catalog.tableExists("ph_err_mt")
        or spark.table("ph_err_mt").count() == 0
    )
    _drop(spark, *tables)

    # default fail: the undecodable payload kills the run loudly
    ctx.db.replace_table(
        "ph_err_src",
        spark.createDataFrame(rows[:2], "doc_id long, payload binary"),
    )
    with pytest.raises(Exception):
        _task(ctx, "ph_err_f", {k: v for k, v in cfg.items() if k != "on_decode_error"})
    _drop(spark, *tables)


# --- round-11 part 2: progressive JPEG (SOF2) ---------------------------
#
# VERDICT r10 item 1 (the r9 rollover): spectral selection + successive
# approximation decode, luma-only chroma-scan skipping, and an encoder
# witness with data-derived optimal Huffman tables.  The differential
# property doing the heavy lifting everywhere: baseline and progressive
# encoders share ONE batched FDCT/quantize path and both decoders share
# ONE batched IDCT finale, so progressive-vs-baseline plane equality
# isolates exactly the progressive scan coding.


def test_jpeg_progressive_gray_block_constant_exact():
    import numpy as np

    from sayn_spark.functions.multimodal import (
        jpeg_encode_progressive,
        jpeg_parse,
    )

    blocks = np.array([[10, 200, 33], [130, 7, 255]])
    img = np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    payload = jpeg_encode_progressive(img.tobytes(), 24, 16)
    assert jpeg_parse(payload) == (24, 16, 1)  # metadata-only fast path
    w, h, nc, px = jpeg_parse(payload, want_pixels=True)
    assert (w, h, nc) == (24, 16, 1)
    assert np.frombuffer(px, np.uint8).reshape(16, 24).tolist() == img.tolist()


def test_jpeg_progressive_matches_baseline_all_samplings():
    """Random lossy color content through the default 10-scan script
    decodes BIT-IDENTICALLY to the baseline SOF0 encoding of the same
    pixels, for every supported chroma layout and restart interval —
    and the luma-only want_pixels path (which byte-skips chroma AC
    scans) returns exactly planes[0]."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        JPEG_STD_QUANT,
        JPEG_STD_QUANT_CHROMA,
        jpeg_encode_color,
        jpeg_encode_progressive,
        jpeg_parse,
    )

    rng = np.random.default_rng(11)
    for sampling in ((1, 1), (2, 1), (1, 2), (2, 2)):
        sh, sv = sampling
        W, H = 16 * sh, 16 * sv
        y = rng.integers(0, 256, (H, W)).astype(np.uint8)
        c1 = rng.integers(0, 256, (H // sv, W // sh)).astype(np.uint8)
        c2 = rng.integers(0, 256, (H // sv, W // sh)).astype(np.uint8)
        for ri in (0, 2):
            kw = dict(
                quant_luma=JPEG_STD_QUANT,
                quant_chroma=JPEG_STD_QUANT_CHROMA,
                sampling=sampling,
                restart_interval=ri,
            )
            base = jpeg_encode_color(
                y.tobytes(), c1.tobytes(), c2.tobytes(), W, H, **kw
            )
            prog = jpeg_encode_progressive(
                y.tobytes(), W, H, c1.tobytes(), c2.tobytes(), **kw
            )
            got_b = jpeg_parse(base, want_planes=True)
            got_p = jpeg_parse(prog, want_planes=True)
            assert got_b == got_p, (sampling, ri)
            luma = jpeg_parse(prog, want_pixels=True)[3]
            assert luma == got_p[3][0][2], (sampling, ri)


def test_jpeg_progressive_eobrun_zrl_and_custom_script():
    """A mostly-flat image makes the AC scans one long cross-block EOB
    run (EOBn symbols with run > 0 — only expressible with derived
    tables); a sparse single-coefficient-per-block image exercises ZRL
    in first and refinement passes.  A hand-built script with narrow
    spectral bands and a 3-step successive approximation must decode
    identically to baseline too."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        JPEG_STD_QUANT,
        jpeg_encode,
        jpeg_encode_progressive,
        jpeg_parse,
    )

    flat = np.full((32, 64), 128, np.uint8)
    flat[0, 0] = 255
    flat[31, 63] = 0
    sparse = np.zeros((16, 64), np.uint8)
    sparse[::8, ::8] = 200  # one hot pixel per block -> long zero runs
    script = (
        ((0,), 0, 0, 0, 2),
        ((0,), 1, 2, 0, 3),
        ((0,), 3, 9, 0, 3),
        ((0,), 10, 63, 0, 3),
        ((0,), 1, 63, 3, 2),
        ((0,), 1, 63, 2, 1),
        ((0,), 1, 63, 1, 0),
        ((0,), 0, 0, 2, 1),
        ((0,), 0, 0, 1, 0),
    )
    for img in (flat, sparse):
        h, w = img.shape
        base = jpeg_parse(
            jpeg_encode(img.tobytes(), w, h, quant=JPEG_STD_QUANT),
            want_pixels=True,
        )
        for scans in (None, script):
            prog = jpeg_parse(
                jpeg_encode_progressive(
                    img.tobytes(), w, h, quant_luma=JPEG_STD_QUANT, scans=scans
                ),
                want_pixels=True,
            )
            assert prog == base


def test_jpeg_progressive_script_validation():
    import numpy as np
    import pytest as _pytest

    from sayn_spark.functions.multimodal import jpeg_encode_progressive

    img = np.zeros((8, 8), np.uint8).tobytes()
    bad_scripts = [
        (((0,), 0, 63, 0, 0),),              # DC scan with Se > 0
        (((0,), 1, 63, 0, 0),),              # AC before any DC first pass
        (((0, 1), 0, 0, 0, 0),),             # unknown component (gray)
        (((0,), 0, 0, 0, 0), ((0,), 5, 3, 0, 0)),   # Se < Ss
        (((0,), 0, 0, 0, 15),),              # Al out of range
        (((0,), 0, 0, 1, 0),),               # refinement before first pass
    ]
    for scans in bad_scripts:
        with _pytest.raises(ValueError):
            jpeg_encode_progressive(img, 8, 8, scans=scans)
    # interleaved AC is structurally impossible to ENCODE (validated),
    # and the DECODER rejects it too (covered by the byte-patch test)


def test_jpeg_progressive_decoder_rejects_malformed():
    """Decoder-side strictness: a DC scan whose Se byte is patched to
    63 is a corrupt stream (ValueError), and a payload whose EOI is
    chopped off after the last scan is truncated (ValueError) — never
    a silent partial decode."""
    import numpy as np
    import pytest as _pytest

    from sayn_spark.functions.multimodal import (
        jpeg_encode_progressive,
        jpeg_parse,
    )

    img = np.kron(
        np.array([[50, 150], [250, 5]]), np.ones((8, 8), dtype=np.int64)
    ).astype(np.uint8)
    payload = jpeg_encode_progressive(img.tobytes(), 16, 16)

    patched = bytearray(payload)
    sos = patched.index(b"\xff\xda")  # first scan: DC first (Ss=0, Se=0)
    assert patched[sos + 7 : sos + 9] == b"\x00\x00"  # Ss, Se
    patched[sos + 8] = 63
    with _pytest.raises(ValueError):
        jpeg_parse(bytes(patched), want_pixels=True)

    assert payload.endswith(b"\xff\xd9")
    with _pytest.raises(ValueError, match="EOI"):
        jpeg_parse(payload[:-2], want_pixels=True)
    # metadata-only parse of the chopped payload still works (dims are
    # in the frame header)
    assert jpeg_parse(payload[:-2]) == (16, 16, 1)


def test_image_gray_pixels_and_dhash_accept_progressive():
    """The phash pipeline's decode hook takes progressive payloads:
    same pixels encoded baseline and progressive produce the same luma
    plane and therefore identical dHash bands — a re-encoded
    progressive twin of an indexed baseline image verifies at
    Hamming 0."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        JPEG_STD_QUANT,
        JPEG_STD_QUANT_CHROMA,
        dhash_bands,
        image_gray_pixels,
        jpeg_encode_color,
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(23)
    y = rng.integers(0, 256, (16, 32)).astype(np.uint8)
    c1 = rng.integers(0, 256, (8, 16)).astype(np.uint8)
    c2 = rng.integers(0, 256, (8, 16)).astype(np.uint8)
    kw = dict(quant_luma=JPEG_STD_QUANT, quant_chroma=JPEG_STD_QUANT_CHROMA)
    base = jpeg_encode_color(y.tobytes(), c1.tobytes(), c2.tobytes(), 32, 16, **kw)
    prog = jpeg_encode_progressive(y.tobytes(), 32, 16, c1.tobytes(), c2.tobytes(), **kw)
    wb, hb, gb = image_gray_pixels(base)
    wp, hp, gp = image_gray_pixels(prog)
    assert (wb, hb) == (wp, hp) == (32, 16)
    assert gb == gp
    assert dhash_bands(gb, 32, 16) == dhash_bands(gp, 32, 16)


def test_incremental_phash_ingest_accepts_progressive_twin(spark):
    """Two-wave incremental phash: wave 1 indexes a baseline color
    JPEG; wave 2 brings the PROGRESSIVE re-encode of the same pixels —
    it must verify against the stored index at Hamming 0 and stay out
    of the index, exactly like the BMP re-encode in the wave tests
    above."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        jpeg_encode_color,
        jpeg_encode_progressive,
    )
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "pj_idx", "pj_mt"
    _drop(spark, idx, mt)
    rng = np.random.default_rng(5)
    y = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    flat = np.full((8, 8), 128, np.uint8)
    base = jpeg_encode_color(
        y.tobytes(), flat.tobytes(), flat.tobytes(), 16, 16
    )
    prog = jpeg_encode_progressive(
        y.tobytes(), 16, 16, flat.tobytes(), flat.tobytes()
    )
    b0 = spark.createDataFrame(
        [(1, bytearray(base))], "doc_id long, payload binary"
    )
    dedup_ingest_batch(
        b0, 0, idx, mt, SF, method="phash", max_hamming=12
    )
    b1 = spark.createDataFrame(
        [(2, bytearray(prog))], "doc_id long, payload binary"
    )
    dedup_ingest_batch(
        b1, 1, idx, mt, SF, method="phash", max_hamming=12
    )
    assert {
        (r.batch_id, r.corpus_id, r.hamming, r.ingest_id)
        for r in spark.table(mt).collect()
    } == {(2, 1, 0, 1)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {1}
    _drop(spark, idx, mt)


# --- round-11 part 3: animated GIF compositing + MP4 metadata -----------


def test_gif_animated_compositing_semantics():
    """Disposal 0/1 (leave), 2 (restore-to-background), 3
    (restore-to-previous), sub-rectangle painting, and transparency —
    the full GIF89a compositing model, pinned frame by frame."""
    import numpy as np

    from sayn_spark.functions.multimodal import gif_encode_animated, gif_frames

    W, H = 10, 8
    payload = gif_encode_animated(
        [
            (bytes([50]) * (W * H), 0, 0, W, H, 10, 1, None),
            (bytes([200]) * 20, 0, 0, 5, 4, 20, 2, None),
            (bytes([90]) * 20, 5, 4, 5, 4, 30, 3, None),
            (bytes([7, 255] * 10), 0, 0, 5, 4, 40, 0, 255),
        ],
        W,
        H,
    )
    w, h, frames = gif_frames(payload)
    assert (w, h) == (W, H) and [d for d, _ in frames] == [10, 20, 30, 40]
    c = [np.frombuffer(px, np.uint8).reshape(H, W) for _, px in frames]
    assert (c[0] == 50).all()
    assert (c[1][:4, :5] == 200).all() and (c[1][4:, :] == 50).all()
    # frame 1's disposal 2 cleared its rect to background index 0
    assert (c[2][:4, :5] == 0).all() and (c[2][4:, 5:] == 90).all()
    # frame 2's disposal 3 restored the pre-frame canvas, so frame 3
    # paints over the post-frame-1 state; transparent 255 shows through
    assert c[3][0, 0] == 7 and c[3][0, 1] == 0 and (c[3][4:, 5:] == 50).all()


def test_gif_animated_single_frame_matches_gif_parse():
    from sayn_spark.functions.multimodal import (
        gif_encode,
        gif_frames,
        gif_parse,
    )

    px = bytes(range(80)) * 2
    payload = gif_encode(px, 16, 10)
    w, h, nc, flat = gif_parse(payload, want_pixels=True)
    w2, h2, frames = gif_frames(payload)
    assert (w, h) == (w2, h2) and len(frames) == 1
    assert frames[0][1] == flat


def test_gif_animated_rejects_bad_frames():
    import pytest as _pytest

    from sayn_spark.functions.multimodal import gif_encode_animated, gif_frames

    with _pytest.raises(ValueError, match="exceeds the logical screen"):
        gif_encode_animated([(bytes(20), 8, 8, 5, 4, 0, 1, None)], 10, 10)
    with _pytest.raises(ValueError, match="disposal"):
        gif_encode_animated([(bytes(20), 0, 0, 5, 4, 0, 5, None)], 10, 10)
    ok = gif_encode_animated([(bytes(20), 0, 0, 5, 4, 0, 1, None)], 10, 10)
    # decoder-side: a frame rect patched past the canvas raises
    bad = bytearray(ok)
    # image descriptor sits past header (13) + GCT (768); searching
    # from 0 would hit a 0x2C palette byte
    img = bad.index(b"\x2c", 13 + 768)
    bad[img + 1 : img + 3] = (8).to_bytes(2, "little")  # left 0 -> 8
    with _pytest.raises(ValueError, match="exceeds the logical screen"):
        gif_frames(bytes(bad))


def test_mp4_metadata_roundtrip_and_contract():
    import pytest as _pytest

    from sayn_spark.functions.multimodal import mp4_build, mp4_parse

    assert mp4_parse(mp4_build(640, 360, 12345)) == (
        12345, 1, [("vide", "avc1", 640, 360, 12345, 0, 0)]
    )
    assert mp4_parse(mp4_build(1920, 1080, 98765, with_audio=True)) == (
        98765,
        2,
        [
            ("vide", "avc1", 1920, 1080, 98765, 0, 0),
            ("soun", "mp4a", 0, 0, 98765, 0, 0),
        ],
    )
    assert mp4_parse(mp4_build(8, 8, 0, video_codec=b"hvc1"))[2][0][1] == "hvc1"
    with _pytest.raises(NotImplementedError):
        mp4_parse(b"\x89PNG\r\n\x1a\n" + bytes(8))
    with _pytest.raises(ValueError):
        mp4_parse(mp4_build(64, 64, 100)[:40])  # truncated mid-moov


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(cut=st.integers(min_value=0, max_value=1400), seed=st.integers(0, 1000))
def test_gif_frames_truncated_payload_never_hangs(cut, seed):
    """PROPERTY: gif_frames holds the two-exception contract under
    truncation at any byte of a multi-frame animation."""
    import numpy as np

    from sayn_spark.functions.multimodal import gif_encode_animated, gif_frames

    rng = np.random.default_rng(seed)
    frames = [
        (rng.integers(0, 256, 60).astype(np.uint8).tobytes(), 0, 0, 10, 6, 5, 1, None),
        (rng.integers(0, 256, 12).astype(np.uint8).tobytes(), 2, 2, 4, 3, 5, 2, 255),
    ]
    payload = gif_encode_animated(frames, 10, 6)
    try:
        gif_frames(payload[: min(cut, len(payload))])
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(cut=st.integers(min_value=0, max_value=950), wa=st.booleans())
def test_mp4_parse_truncated_payload_never_hangs(cut, wa):
    """PROPERTY: mp4_parse holds the two-exception contract under
    truncation at any byte of the box tree — including mid-stts and
    mid-mdhd (r12: per-track timing fields are in the cut range)."""
    from sayn_spark.functions.multimodal import mp4_build, mp4_parse

    payload = mp4_build(
        320, 240, 5000, with_audio=wa,
        video_n_samples=50, video_duration_ms=4000,
    )
    try:
        mp4_parse(payload[: min(cut, len(payload))])
    except (ValueError, NotImplementedError):
        pass


def test_image_gray_pixels_animated_gif_uses_composited_canvas():
    """phash must hash what a viewer SEES: an animated GIF whose first
    frame is a delta sub-rectangle yields the full composited canvas
    (background-filled outside the rect) at logical-screen dims — not
    the bare rect that gif_parse's single-frame walk returns."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        gif_encode,
        gif_encode_animated,
        image_gray_pixels,
    )

    anim = gif_encode_animated(
        [(bytes([200]) * 12, 3, 2, 4, 3, 0, 1, None)], 12, 8
    )
    w, h, px = image_gray_pixels(anim)
    assert (w, h) == (12, 8)
    c = np.frombuffer(px, np.uint8).reshape(8, 12)
    assert (c[2:5, 3:7] == 200).all() and c[0, 0] == 0 and c.sum() == 200 * 12
    # single-frame full-rect GIFs are unchanged
    flat = bytes(range(96))
    w2, h2, px2 = image_gray_pixels(gif_encode(flat, 12, 8))
    assert (w2, h2, px2) == (12, 8, flat)


def test_mp3_metadata_roundtrip_and_contract():
    import pytest as _pytest

    from sayn_spark.functions.multimodal import mp3_build, mp3_parse

    # CBR stereo, ID3v2, trailing ID3v1 all walk correctly
    p = mp3_build(38, 128, 44100, 2)
    assert mp3_parse(p) == (38 * 1152 * 1000 // 44100, 128, 44100, 2, 38)
    p2 = mp3_build(10, 64, 32000, 1, id3_bytes=300)
    assert mp3_parse(p2) == (360, 64, 32000, 1, 10)
    assert mp3_parse(p2 + b"TAG" + bytes(125)) == (360, 64, 32000, 1, 10)
    with _pytest.raises(NotImplementedError):
        mp3_parse(b"RIFFxxxxWAVE" + bytes(8))
    # Layer II header is a documented scope boundary
    bad = bytearray(p)
    bad[1] = (bad[1] & ~0x06) | (2 << 1)
    with _pytest.raises(NotImplementedError, match="Layer"):
        mp3_parse(bytes(bad))
    # reserved bitrate index is corrupt, not out-of-scope
    bad = bytearray(p)
    bad[2] = 0xF0 | (bad[2] & 0x0F)
    with _pytest.raises(ValueError):
        mp3_parse(bytes(bad))


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(cut=st.integers(min_value=0, max_value=2000), id3=st.booleans())
def test_mp3_parse_truncated_payload_never_hangs(cut, id3):
    """PROPERTY: mp3_parse holds the two-exception contract under
    truncation at any byte of tag or frame stream."""
    from sayn_spark.functions.multimodal import mp3_build, mp3_parse

    payload = mp3_build(6, 128, 44100, 2, id3_bytes=90 if id3 else 0)
    try:
        mp3_parse(payload[: min(cut, len(payload))])
    except (ValueError, NotImplementedError):
        pass


# --- round-11 part 4: self-review fixes ----------------------------------


def test_image_gray_pixels_tolerates_gif_truncated_after_first_frame():
    """Crawl robustness: a GIF cut after frame 0's block terminator
    (no trailer, no later frames) still hashes — the phash hook reads
    max_frames=1 and never requires the rest of the stream.  The full
    gif_frames walk stays strict about the missing trailer."""
    import pytest as _pytest

    from sayn_spark.functions.multimodal import (
        gif_encode_animated,
        gif_frames,
        image_gray_pixels,
    )

    px = bytes(range(64))
    payload = gif_encode_animated(
        [
            (px, 0, 0, 8, 8, 1, 1, None),
            (bytes([9] * 16), 0, 0, 4, 4, 1, 1, None),
        ],
        8,
        8,
    )
    # cut right after frame 0: find frame 1's GCE (0x21 0xF9) past the
    # header+GCT+loop-ext+frame-0 GCE
    cut = payload.index(b"\x21\xf9", 13 + 768 + 19 + 8)
    trunc = payload[:cut]
    w, h, gray = image_gray_pixels(trunc)
    assert (w, h, gray) == (8, 8, px)
    with _pytest.raises(ValueError, match="trailer"):
        gif_frames(trunc)  # the full walk is strict
    # max_frames also bounds the work on intact animations
    _, _, fr = gif_frames(payload, max_frames=1)
    assert len(fr) == 1 and fr[0][1] == px


def test_editdistance_full_mode_degenerate_texts_never_candidate(spark):
    """Full mode now holds the same degenerate-doc policy as the
    incremental ingest (and minhash/simhash zero-token docs): empty /
    whitespace-only / NULL texts fold to NULL block keys and never
    pair — previously two empty docs were a Levenshtein-0 'near-dup'
    and n of them verified O(n^2) pairs."""
    from sayn_spark.functions.dedup import editdistance_dup_pairs

    corpus = spark.createDataFrame(
        [
            (1, ""),
            (2, ""),
            (3, "   "),
            (4, None),
            (5, "the cat sat on the mat today"),
            (6, "the cat sat on the mat todaX"),
            # Spark's trim() strips only ASCII spaces — these two would
            # evade a trim-based guard and pair at distance 0
            (7, "\t\n"),
            (8, "\t\n\t"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b) for r in editdistance_dup_pairs(corpus).collect()
    }
    assert pairs == {(5, 6)}


def test_webp_metadata_roundtrip_and_contract():
    import pytest as _pytest

    from sayn_spark.functions.multimodal import webp_build, webp_parse

    assert webp_parse(webp_build(640, 480)) == (640, 480, "vp8", 0, 0, 1, 0)
    assert webp_parse(webp_build(1, 16383, mode="lossless")) == (
        1, 16383, "vp8l", 0, 0, 1, 0,
    )
    assert webp_parse(webp_build(800, 600, mode="extended", alpha=True)) == (
        800, 600, "vp8x", 1, 0, 1, 0,
    )
    assert webp_parse(
        webp_build(320, 240, mode="extended", animated=True)
    ) == (320, 240, "vp8x", 0, 1, 1, 0)
    with _pytest.raises(NotImplementedError):
        webp_parse(b"RIFF\x04\x00\x00\x00WAVE" + bytes(8))
    # a leading VP8 INTER-frame has no dimensions: decode boundary
    p = bytearray(webp_build(64, 64))
    p[20] |= 0x01  # frame-type bit of the VP8 frame tag
    with _pytest.raises(NotImplementedError, match="inter-frame"):
        webp_parse(bytes(p))
    # corrupt sync code is ValueError, not out-of-scope
    p = bytearray(webp_build(64, 64))
    p[23] = 0x00  # 0x9d -> 0x00
    with _pytest.raises(ValueError, match="sync"):
        webp_parse(bytes(p))


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cut=st.integers(min_value=0, max_value=150),
    mode=st.sampled_from(["lossy", "lossless", "extended"]),
    anim=st.booleans(),
)
def test_webp_parse_truncated_payload_never_hangs(cut, mode, anim):
    """PROPERTY: webp_parse holds the two-exception contract under
    truncation at any byte of the chunk walk — including mid-ANMF of a
    multi-frame animation (r12: the frame walk is in the cut range)."""
    from sayn_spark.functions.multimodal import webp_build, webp_parse

    animated = anim and mode == "extended"
    payload = webp_build(
        200, 100, mode=mode, animated=animated,
        frame_durations=(40, 80) if animated else None,
    )
    try:
        webp_parse(payload[: min(cut, len(payload))])
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fmt=st.sampled_from(["jpeg_prog", "gif_anim", "mp4", "mp3", "webp"]),
    pos_seed=st.integers(min_value=0, max_value=10**9),
    flip=st.integers(min_value=1, max_value=255),
)
def test_new_decoders_byte_flip_never_breaks_the_contract(fmt, pos_seed, flip):
    """PROPERTY (beyond truncation): flipping ANY single byte of a
    valid payload either still parses or raises ValueError /
    NotImplementedError — corrupt crawl bytes can redirect a parse but
    never leak a raw IndexError/KeyError/struct.error or hang.  One
    property over all five round-11 decode surfaces."""
    import numpy as np

    from sayn_spark.functions.multimodal import (
        JPEG_STD_QUANT,
        gif_encode_animated,
        gif_frames,
        jpeg_encode_progressive,
        jpeg_parse,
        mp3_build,
        mp3_parse,
        mp4_build,
        mp4_parse,
        webp_build,
        webp_parse,
    )

    rng = np.random.default_rng(7)
    if fmt == "jpeg_prog":
        img = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
        payload = jpeg_encode_progressive(
            img.tobytes(), 16, 16, quant_luma=JPEG_STD_QUANT, restart_interval=2
        )
        parse = lambda p: jpeg_parse(p, want_pixels=True)
    elif fmt == "gif_anim":
        payload = gif_encode_animated(
            [
                (rng.integers(0, 256, 60).astype(np.uint8).tobytes(), 0, 0, 10, 6, 5, 1, None),
                (rng.integers(0, 256, 12).astype(np.uint8).tobytes(), 2, 2, 4, 3, 5, 2, 255),
            ],
            10,
            6,
        )
        parse = gif_frames
    elif fmt == "mp4":
        # r12: per-track timing fields (stts run + trimmed mdhd) are in
        # the flipped byte range too
        payload = mp4_build(
            320, 240, 5000, with_audio=True,
            video_n_samples=50, video_duration_ms=4000,
        )
        parse = mp4_parse
    elif fmt == "mp3":
        payload = mp3_build(6, 128, 44100, 2, id3_bytes=90)
        parse = mp3_parse
    else:
        # r12: multi-ANMF animation so the frame walk is in range
        payload = webp_build(
            200, 100, mode="extended", animated=True,
            frame_durations=(40, 80),
        )
        parse = webp_parse
    pos = pos_seed % len(payload)
    mutated = bytearray(payload)
    mutated[pos] ^= flip
    try:
        parse(bytes(mutated))
    except (ValueError, NotImplementedError):
        pass
