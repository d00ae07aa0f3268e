"""Round-13 surfaces:

- mp4_parse played_ms: the edts/elst edit-list walk (v0 + v1 entry
  layouts, movie-timescale conversion deferred past the moov walk,
  empty-edit sentinel included in the sum) and its mp4_build witness.
- route_media_frame full-format dispatch: JPEG/PNG/GIF/BMP/WAV arms
  join MP4/WebP/MP3 so a mixed crawl's stills stop routing 'unknown'.
- wav_parse metadata mode (want_samples=False): headers-only frame
  count with no 16-bit restriction.
- bmp_parse metadata mode: header fields readable on compressed /
  non-24bpp / top-down payloads whose PIXEL decode stays out of scope.
- gif_meta: full-block frame count + summed GCE delays, headers only.
"""

import struct

import pytest

from sayn_spark.functions.multimodal import mp4_build, mp4_parse


def test_mp4_elst_played_time_roundtrip():
    """A two-segment edit list sums to the track's PLAYED time in both
    fullbox versions; tracks without an edit list report 0 (played ==
    media length, no separate signal)."""
    p = mp4_build(640, 360, 10000, video_duration_ms=8000,
                  video_n_samples=100,
                  video_edit_list=[(3000, 0), (2500, 500)])
    dur, n, tracks = mp4_parse(p)
    assert (dur, n) == (10000, 1)
    assert tracks[0] == ("vide", "avc1", 640, 360, 8000, 100, 5500)

    v1 = mp4_parse(mp4_build(640, 360, 10000, video_duration_ms=8000,
                             video_n_samples=100, version1=True,
                             video_edit_list=[(3000, 0), (2500, 500)]))
    assert v1[2][0] == tracks[0]

    # no elst -> played_ms 0, and the audio trak never gets one
    d2 = mp4_parse(mp4_build(320, 240, 7000, with_audio=True,
                             video_edit_list=[(1500, -1), (4000, 0)]))
    assert d2[2][0][6] == 5500  # empty-edit sentinel counts as played
    assert d2[2][1][6] == 0


def test_mp4_elst_movie_timescale_after_trak():
    """elst durations live on the MOVIE clock: a hand-built tree with
    mvhd timescale 500 placed AFTER the trak still converts correctly —
    the conversion must run after the full moov walk, not at the box."""

    def box(tag, payload):
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def full(tag, payload):
        return box(tag, b"\x00\x00\x00\x00" + payload)

    mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, 500, 3000) + b"\x00" * 80)
    mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, 1000, 4000)
                + struct.pack(">HH", 0x55C4, 0))
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 13)
    tkhd = full(b"tkhd", struct.pack(">IIIII", 0, 0, 1, 0, 6000)
                + b"\x00" * 16
                + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                              0x40000000)
                + struct.pack(">II", 64 << 16, 48 << 16))
    # 1250 + 250 movie ticks at 500 ticks/s = 3000 ms played
    elst = full(b"elst", struct.pack(">I", 2)
                + struct.pack(">IiHH", 1250, 0, 1, 0)
                + struct.pack(">IiHH", 250, 100, 1, 0))
    trak = box(b"trak", tkhd + box(b"edts", elst) + box(b"mdia", mdhd + hdlr))
    payload = box(b"ftyp", b"isom" + bytes(4)) + box(b"moov", trak + mvhd)
    dur, n, tracks = mp4_parse(payload)
    assert (dur, n) == (6000, 1)
    assert tracks[0][4] == 4000  # media clock
    assert tracks[0][6] == 3000  # played, on the movie clock

    # a declared entry count overflowing the box is a loud truncation
    bad_elst = full(b"elst", struct.pack(">I", 99)
                    + struct.pack(">IiHH", 1250, 0, 1, 0))
    bad = box(b"ftyp", b"isom" + bytes(4)) + box(
        b"moov",
        mvhd + box(b"trak", tkhd + box(b"edts", bad_elst)
                   + box(b"mdia", mdhd + hdlr)),
    )
    with pytest.raises(ValueError, match="elst entries overflow"):
        mp4_parse(bad)


def test_route_media_frame_all_formats(spark):
    """The router types every format the module parses — JPEG, PNG,
    GIF (still + animated), BMP, WAV join MP4/WebP/MP3 — plus the
    unknown arm for NULL and garbage payloads; one mapInPandas stage,
    nothing shuffles."""
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from sayn_spark.functions.multimodal import (
        bmp_encode,
        gif_encode,
        gif_encode_animated,
        jpeg_encode,
        mp3_build,
        mp4_build,
        png_encode,
        route_media_frame,
        wav_encode,
        webp_build,
    )

    px64 = bytes(range(64))
    payloads = [
        (1, mp4_build(640, 360, 9000, video_duration_ms=8000,
                      video_n_samples=240,
                      video_edit_list=[(4000, 0), (1000, 500)])),
        (2, webp_build(100, 80, mode="lossy")),
        (3, mp3_build(43, 128, 44100, 2)),  # 43*1152/44100 s
        (4, jpeg_encode(px64, 8, 8)),
        (5, png_encode(px64, 8, 8)),
        (6, gif_encode(px64, 8, 8)),
        (7, gif_encode_animated(
            [(px64, 0, 0, 8, 8, 50, 0, None),
             (bytes(16), 2, 2, 4, 4, 25, 2, 0)], 8, 8)),
        (8, bmp_encode(px64, 8, 8)),
        (9, wav_encode([0] * 8000, 16000)),  # 500 ms mono
        (10, b"\x00nonsense\x00" * 4),
        (11, None),
    ]
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ])
    df = spark.createDataFrame(payloads, schema)
    got = {
        r["doc_id"]: (
            r["media_type"], r["width"], r["height"], r["duration_ms"],
            r["is_animated"], r["n_frames"], r["fps_milli"],
        )
        for r in route_media_frame(df).collect()
    }
    assert got[1] == ("video/mp4", 640, 360, 5000, 0, 240, 30000)
    assert got[2] == ("image/webp", 100, 80, 0, 0, 1, 0)
    assert got[3] == ("audio/mpeg", 0, 0, 43 * 1152 * 1000 // 44100, 0, 0, 0)
    assert got[4] == ("image/jpeg", 8, 8, 0, 0, 1, 0)
    assert got[5] == ("image/png", 8, 8, 0, 0, 1, 0)
    assert got[6] == ("image/gif", 8, 8, 0, 0, 1, 0)
    assert got[7] == ("image/gif", 8, 8, 750, 1, 2, 0)
    assert got[8] == ("image/bmp", 8, 8, 0, 0, 1, 0)
    assert got[9] == ("audio/wav", 0, 0, 500, 0, 0, 0)
    assert got[10] == ("unknown", 0, 0, 0, 0, 0, 0)
    assert got[11] == ("unknown", 0, 0, 0, 0, 0, 0)


def test_chunked_null_key_rows_remerge_existing_keys(spark, tmp_path):
    """max_merge_rows chunking must not change NULL-incremental-key
    semantics (advice r12): the unchunked inc path re-merges every
    NULL-key row each run via the delete-key merge, so a NULL-key row
    whose delete_key ALREADY EXISTS in dst carries an UPDATE — the old
    anti-join drain silently dropped it.  Rows with NULL delete keys
    must drain too (exactly once per run), and the watermark rows still
    merge after the NULL chunks."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.copy import CopyTask

    db = SparkDatabase(spark)
    ctx = TaskContext(
        spark=spark, db=db, compiler=Compiler(),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )
    # 5 NULL-updated_at rows (forcing 3 key-chunks at max_merge_rows=2),
    # of which ids 1 and 2 already exist in dst with STALE names; one
    # NULL-delete-key row; plus 2 ordinary watermark rows
    src = (
        [{"id": i, "updated_at": None, "name": f"new{i}"} for i in (1, 2, 3, 4)]
        + [{"id": None, "updated_at": None, "name": "nokey"}]
        + [{"id": i, "updated_at": i, "name": f"w{i}"} for i in (10, 11)]
    )
    db.load_data("cpn_src", src, schema="id long, updated_at long, name string",
                 replace=True)
    db.load_data(
        "cpn_dst",
        [{"id": 1, "updated_at": 9, "name": "stale1"},
         {"id": 2, "updated_at": 9, "name": "stale2"}],
        schema="id long, updated_at long, name string", replace=True,
    )
    t = CopyTask(
        "cpn",
        {"source": {"table": "cpn_src"}, "destination": "cpn_dst",
         "incremental_key": "updated_at", "delete_key": "id",
         "max_merge_rows": 2},
        ctx,
    )
    t.config()
    t.run()
    got = {
        r.id: r.name
        for r in spark.table("cpn_dst").where("id IS NOT NULL").collect()
    }
    # updates on NULL-incremental-key rows replaced the stale dst rows
    assert got == {1: "new1", 2: "new2", 3: "new3", 4: "new4",
                   10: "w10", 11: "w11"}
    # the NULL-delete-key row drained exactly once this run
    assert spark.table("cpn_dst").where("id IS NULL").count() == 1


def test_create_table_delta_bucket_by_is_loud(spark):
    """An explicit table_format='delta' with bucket_by must raise, not
    silently write the session-default provider (advice r12): Delta has
    no bucketBy, and handing back a different table than the one the
    caller pinned is the silent-divergence failure mode."""
    from sayn_spark.core.database import SparkDatabase

    db = SparkDatabase(spark)
    df = spark.range(3).selectExpr("id", "id AS k")
    with pytest.raises(ValueError, match="bucketBy"):
        db.create_table(
            "dbk_t", df, table_format="delta", bucket_by=(4, ["k"])
        )


def test_move_table_skips_msck_on_delta(spark, monkeypatch):
    """move_table's partition re-sync is metastore surgery Delta must
    never see (advice r12): Delta partitions live in the delta log and
    MSCK REPAIR on a Delta table raises.  With the provider probed as
    'delta', the rename must issue NO MSCK statement; the parquet path
    keeps it (pinned by test_round12's partitioned-swap repro)."""
    from sayn_spark.core.database import SparkDatabase

    db = SparkDatabase(spark)
    df = spark.range(6).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    db.drop_object("mvd_src")
    db.drop_object("mvd_dst")
    db.create_table("mvd_src", df, partition_by=["p"])

    issued = []
    real_sql = spark.sql

    def spy(stmt, *a, **kw):
        issued.append(stmt)
        return real_sql(stmt, *a, **kw)

    monkeypatch.setattr(spark, "sql", spy)
    monkeypatch.setattr(db, "_table_provider", lambda name: "delta")
    db.move_table("mvd_src", "mvd_dst")
    assert not any("MSCK" in s for s in issued), issued
    # control: with the real (parquet) provider the MSCK is issued
    db.drop_object("mvd_dst2")
    monkeypatch.setattr(db, "_table_provider", lambda name: "parquet")
    db.move_table("mvd_dst", "mvd_dst2")
    assert any("MSCK" in s for s in issued), issued
    assert spark.table("mvd_dst2").count() == 6


def test_ann_declared_outputs_match_physical_under_suffix(spark, tmp_path):
    """Under a table_suffix stringify rule the ann_index task's declared
    side-table outputs must name exactly the tables its run writes
    (advice r12): the old registration stringified the raw compound
    name (idx_vectors -> idx_vectors_dev) while the writer stringified
    the base and appended (idx_dev + _vectors), declaring outputs that
    were never written.  ann_search's declared index sources must agree
    so the DAG edge and --upstream-prod redirect survive every rule."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.operators.ann_search import AnnSearchTask

    oc = DbObjectCompiler(
        default_db="spark", stringify={"table_suffix": "sfx"}
    )
    ctx = TaskContext(
        spark=spark, db=SparkDatabase(spark), compiler=Compiler(),
        obj_compiler=oc, run_arguments=RunArguments(), parameters={},
        connections={}, project_dir=tmp_path,
    )
    ix = AnnIndexTask(
        "aix",
        {"source": "ann_src", "index": "sfx_idx", "method": "ivf"},
        ctx,
    )
    ix.config()
    # declared side objects carry the PHYSICAL name as their raw
    # identity (only the base object is stringify-sensitive; nothing
    # in the engine calls out_value on side outputs)
    declared = {o.table for o in ix.outputs}
    # the physical writes the run performs: base + suffix tables
    assert ix.index == "sfx_idx_sfx"
    assert f"{ix.index}_centroids" in declared
    assert f"{ix.index}_vectors" in declared
    # no phantom names (old derivation would declare sfx_idx_vectors_sfx)
    assert "sfx_idx_vectors_sfx" not in declared

    se = AnnSearchTask(
        "asr",
        {"index": "sfx_idx", "queries": "ann_q", "destination": "ann_out",
         "k": 3},
        ctx,
    )
    se.config()
    # the DAG edge: search declares a source object the index declares
    # as an output (base object), invariant to the stringify rule
    assert ix.outputs & se.sources, (ix.outputs, se.sources)
    # and reads derive from the same physical base the writer used
    assert se.index == "sfx_idx_sfx"


def test_still_parsers_two_exception_contract():
    """png/bmp/wav (and gif_meta) hold the module's two-exception
    contract under every truncation and single-byte flip of a real
    witness payload — review r13: a truncated BMP/PNG/WAV leaked raw
    struct.error through the new router arms, which would kill a crawl
    job instead of routing the payload as 'unknown'."""
    from sayn_spark.functions.multimodal import (
        bmp_encode,
        bmp_parse,
        gif_encode,
        gif_meta,
        png_encode,
        png_parse,
        wav_encode,
        wav_parse,
    )

    from sayn_spark.functions.multimodal import gif_encode_animated, gif_parse

    anim = gif_encode_animated([(bytes(64), 0, 0, 8, 8, 10, 0, None)] * 2, 8, 8)
    cases = [
        (bmp_encode(bytes(64), 8, 8), lambda p: bmp_parse(p)),
        (bmp_encode(bytes(64), 8, 8), lambda p: bmp_parse(p, want_pixels=True)),
        (png_encode(bytes(64), 8, 8), lambda p: png_parse(p)),
        (png_encode(bytes(64), 8, 8), lambda p: png_parse(p, want_pixels=True)),
        (gif_encode(bytes(64), 8, 8), lambda p: gif_meta(p)),
        (gif_encode(bytes(64), 8, 8), lambda p: gif_parse(p)),
        (anim, lambda p: gif_meta(p)),
        (anim, lambda p: gif_parse(p, want_pixels=True)),
        (wav_encode([0] * 100), lambda p: wav_parse(p, want_samples=False)),
        (wav_encode([0] * 100), lambda p: wav_parse(p)),
    ]
    for payload, fn in cases:
        for cut in range(len(payload)):
            try:
                fn(payload[:cut])
            except (ValueError, NotImplementedError):
                pass
        for i in range(len(payload)):
            q = bytearray(payload)
            q[i] ^= 0xFF
            try:
                fn(bytes(q))
            except (ValueError, NotImplementedError):
                pass


def test_connected_components_fullrange_ids(spark):
    """Helper-layer review r13: the label-propagation convergence check
    summed raw BIGINT labels, which overflows on xxhash64-scale node
    ids — ARITHMETIC_OVERFLOW under ANSI (job killed), or a silent
    wraparound false-convergence with ANSI off.  Full-range positive
    AND negative ids must now produce correct components (decimal
    accumulator, the same shape star_components always used)."""
    from sayn_spark.functions.components import (
        components,
        connected_components,
    )

    big = 9223372036854775800
    edges = spark.createDataFrame(
        [(big, big - 1), (big - 1, big - 2), (big - 5, big - 6), (-big, 7)],
        "src long, dst long",
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        (big, big - 2), (big - 1, big - 2), (big - 2, big - 2),
        (big - 5, big - 6), (big - 6, big - 6),
        (-big, -big), (7, -big),
    }
    m: list = []
    assert {(r.node, r.component) for r in components(edges, _method=m).collect()} == got
    assert m == ["label_prop"]


def test_quality_score_zero_token_docs(spark):
    """Edge-value review r13: quality_score_col's unguarded ratios were
    ANSI DIVIDE_BY_ZERO — one empty or whitespace-only document killed
    a whole quality-filter run.  Zero-token docs now score 0.0 (no
    tokens = no quality) and fall below any min_score gate."""
    from pyspark.sql import functions as F

    from sayn_spark.functions.text import quality_score_col

    df = spark.createDataFrame(
        [(1, "a good long document with many distinct words here"),
         (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    s = df.withColumn("_score", quality_score_col())
    got = {r.doc_id: r._score for r in s.collect()}
    assert got[2] == 0.0 and got[3] == 0.0 and got[1] > 0.5
    assert [r.doc_id for r in s.where(F.col("_score") >= 0.1).collect()] == [1]


def test_mixture_all_zero_weights_drop_everything(spark, tmp_path):
    """Edge-value review r13: weight 0 is the documented explicit drop,
    but weighting EVERY group 0 made _sumw = 0 and the decimal rate
    division died with DIVIDE_BY_ZERO under ANSI.  All-zero weights now
    produce an empty mixture (each group explicitly dropped); a single
    zero-weight group still drops only itself."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.mixture import MixtureTask

    db = SparkDatabase(spark)
    db.load_data(
        "mixz_src",
        [{"doc_id": i, "text": f"doc {i} " + "w " * 20,
          "source": "a" if i % 2 else "b"} for i in range(40)],
        schema="doc_id long, text string, source string",
        replace=True,
    )
    ctx = TaskContext(
        spark=spark, db=db, compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )

    def run(name, weights, dst):
        t = MixtureTask(
            name,
            {"source": "mixz_src", "destination": dst,
             "group_column": "source", "token_budget_ratio": 1.0,
             "weights": weights},
            ctx,
        )
        t.config()
        t.run()
        return spark.table(dst)

    out = run("mixz_all0", {"a": 0, "b": 0}, "mixz_out0")
    assert out.count() == 0
    out = run("mixz_one0", {"a": 0, "b": 5}, "mixz_out1")
    assert out.where("source = 'a'").count() == 0
    assert out.where("source = 'b'").count() > 0
