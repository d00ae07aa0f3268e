"""Round-9 additions: JPEG marker-walk robustness (ADVICE r8),
measured containment contract, dedup-task method promotions, color
JPEG, streaming semantic decontamination."""

import hashlib

import pytest


# -- jpeg_parse: fill bytes and standalone markers (ADVICE r8) -----------


def _gray_jpeg(w=16, h=8):
    from sayn_spark.functions.multimodal import jpeg_encode

    px = bytes(hashlib.md5(f"j{i}".encode()).digest()[0] for i in range(w * h))
    # block-constant so the default all-1s quant round-trips exactly
    blocks = [px[(by * (w // 8) + bx) % len(px)] for by in range(h // 8) for bx in range(w // 8)]
    img = bytearray(w * h)
    for by in range(h // 8):
        for bx in range(w // 8):
            v = blocks[by * (w // 8) + bx]
            for y in range(8):
                for x in range(8):
                    img[(by * 8 + y) * w + bx * 8 + x] = v
    return jpeg_encode(bytes(img), w, h)


def test_jpeg_parse_skips_fill_bytes_and_standalone_markers():
    """Spec-legal 0xFF fill bytes (T.81 B.1.1.2) and standalone TEM /
    RSTn markers between header segments must not derail the marker
    walk (they carry no length field)."""
    from sayn_spark.functions.multimodal import jpeg_parse

    payload = _gray_jpeg()
    w, h, nc, px = jpeg_parse(payload, want_pixels=True)
    # splice after SOI+APP0 (2 + 18 bytes): fill bytes, a TEM marker,
    # a standalone RST2, more fill bytes
    cut = 20
    assert payload[cut] == 0xFF  # next marker starts here
    spliced = (
        payload[:cut]
        + b"\xff\xff\xff"  # fill bytes before the next marker
        + b"\xff\x01"  # TEM (standalone, no length)
        + b"\xff\xd2"  # RST2 (standalone, no length)
        + payload[cut:]
    )
    w2, h2, nc2, px2 = jpeg_parse(spliced, want_pixels=True)
    assert (w2, h2, nc2) == (w, h, nc)
    assert px2 == px


# -- dedup task: simhash / containment / semantic promotions -------------
# (VERDICT r8 item 1 — every driver-green registry dedup engine must be
# reachable from YAML; lifecycle tests pin task output against an
# INDEPENDENT pure-python model, the test_round8 phash pattern)

import numpy as np

from tests.conftest import SF_SMOKE


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


def _union_find_clusters(ids, pairs):
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
    return clusters


# -- simhash --------------------------------------------------------------


def _model_simhash64(text: str) -> int:
    votes = [0] * 64
    for t in set(x for x in text.lower().split(" ") if x):
        hx = hashlib.md5(t.encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        for j in range(32):
            votes[j] += 1 if (lo >> j) & 1 else -1
            votes[32 + j] += 1 if (hi >> j) & 1 else -1
    return sum((1 << j) for j in range(64) if votes[j] > 0)


def _simhash_corpus():
    """3 groups x (base + 3 mutations): at 100 base tokens the planted
    Hamming distances straddle the radius-6 verify (measured 0-8), so
    the test exercises accept AND reject, plus ~32-bit cross-group
    separation."""
    rows = []
    did = 0
    for g in range(3):
        base = [f"g{g}w{i}" for i in range(100)]
        rows.append((did, " ".join(base)))
        did += 1
        for k in (1, 2, 3):
            mod = base[:-k] + [f"g{g}m{k}r{i}" for i in range(k)]
            rows.append((did, " ".join(mod)))
            did += 1
    return rows


def _model_simhash_kept(rows, radius=6):
    sigs = {d: _model_simhash64(t) for d, t in rows}
    ids = sorted(sigs)
    pairs = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= radius
    ]
    clusters = _union_find_clusters(ids, pairs)
    return {min(m) for m in clusters.values()}, clusters


def test_simhash_task_lifecycle_matches_model(dedup_ctx, spark):
    """method=simhash end-to-end: kept set == all-pairs Hamming model
    (banding has EXACT recall by pigeonhole, so the banded task and the
    all-pairs model must agree everywhere, not just usually)."""
    rows = _simhash_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("sh_src", df)
    _run_task(
        dedup_ctx,
        "sh_dedup",
        {"source": "sh_src", "destination": "sh_out", "method": "simhash"},
    )
    got = {r.doc_id for r in spark.table("sh_out").collect()}
    want, clusters = _model_simhash_kept(rows)
    assert got == want
    # the corpus must exercise both verify verdicts on intra-group
    # pairs: a nontrivial accept (1 <= hamming <= 6) and a reject
    # (hamming > 6; transitivity may still merge the rejected doc)
    sigs = {d: _model_simhash64(t) for d, t in rows}
    hams = [
        bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and a // 4 == b // 4
    ]
    assert any(1 <= h <= 6 for h in hams) and any(h > 6 for h in hams)


def test_simhash_task_radius_and_bands_config(dedup_ctx, spark):
    rows = _simhash_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("sh_r_src", df)
    _run_task(
        dedup_ctx,
        "sh_r",
        {
            "source": "sh_r_src",
            "destination": "sh_r_out",
            "method": "simhash",
            "max_hamming": 3,
            "n_bands": 4,
        },
    )
    got = {r.doc_id for r in spark.table("sh_r_out").collect()}
    want, _ = _model_simhash_kept(rows, radius=3)
    assert got == want


# -- containment ----------------------------------------------------------


def _model_shingles(text: str):
    toks = [x for x in text.lower().split(" ") if x]
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def _containment_task_corpus():
    """Donors of 60 unique tokens + contiguous 8-token snippets
    (6 shingles inside the donor's 58: containment 1.0 at size ratio
    ~9.7 — beyond the default ratio-8 gate, so max_ratio='auto' must
    escalate to the wide gate to find them) + unrelated mid-size
    docs."""
    rows = []
    did = 0
    snip_of = {}
    for g in range(4):
        toks = [f"d{g}t{i}" for i in range(60)]
        rows.append((did, " ".join(toks)))
        snip_of[did + 1] = did
        rows.append((did + 1, " ".join(toks[20:28])))
        did += 2
    for j in range(3):
        rows.append((did, " ".join(f"u{j}x{i}" for i in range(25))))
        did += 1
    return rows, snip_of


def _model_containment_kept(rows, threshold=0.9):
    sh = {d: _model_shingles(t) for d, t in rows}
    ids = sorted(d for d in sh if sh[d])
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and inter >= threshold * min(len(sh[a]), len(sh[b])):
                pairs.append((a, b))
    clusters = _union_find_clusters(ids, pairs)
    kept = {min(m) for m in clusters.values()} | {d for d in sh if not sh[d]}
    return kept, pairs


def test_containment_task_lifecycle_matches_model(dedup_ctx, spark):
    """method=containment with max_ratio=auto: the kept set equals the
    exact all-pairs overlap-coefficient model INCLUDING the planted
    ratio-9.7 snippet pairs the default gate's contract excludes —
    i.e. auto escalated the contract from the measured spread."""
    rows, snip_of = _containment_task_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("ct_src", df)
    _run_task(
        dedup_ctx,
        "ct_dedup",
        {"source": "ct_src", "destination": "ct_out", "method": "containment"},
    )
    got = {r.doc_id for r in spark.table("ct_out").collect()}
    want, pairs = _model_containment_kept(rows)
    assert got == want
    # every snippet clustered under its donor (and was dropped)
    assert all((d, s) in pairs for s, d in snip_of.items())
    assert all(s not in got for s in snip_of)


def test_containment_task_keep_best(dedup_ctx, spark):
    rows, snip_of = _containment_task_corpus()
    # score snippets HIGHER than donors: keep=best must invert the
    # min-id choice inside each (donor, snippet) cluster
    df = spark.createDataFrame(
        [(d, t, 100 + d if d in snip_of else d) for d, t in rows],
        "doc_id long, text string, quality long",
    )
    dedup_ctx.db.replace_table("ct_b_src", df)
    _run_task(
        dedup_ctx,
        "ct_b",
        {
            "source": "ct_b_src",
            "destination": "ct_b_out",
            "method": "containment",
            "keep": "best",
            "score_column": "quality",
        },
    )
    got = {r.doc_id for r in spark.table("ct_b_out").collect()}
    assert all(s in got and d not in got for s, d in snip_of.items())


# -- semantic -------------------------------------------------------------


def _semantic_task_corpus():
    """2 well-separated label clusters in 8 dims; within each label:
    a base vector, an exact scaled copy (cos 1.0 — must drop), a tiny
    rotation at cos > 0.99 (must drop), and a larger rotation at
    cos < 0.99 (must survive)."""
    rng = np.random.RandomState(20260815)
    rows = []
    vid = 0
    for li, label in enumerate(("A", "B")):
        base = np.zeros(8)
        base[li * 4] = 10.0  # far-apart cluster axes
        base = base + rng.uniform(-0.2, 0.2, 8)
        perp = np.zeros(8)
        perp[li * 4 + 1] = 1.0
        variants = [
            base,
            base * 1.5,  # cos exactly 1.0
            base + 0.2 * perp,  # cos ~0.9998
            base + 3.0 * perp,  # cos ~0.96
        ]
        for v in variants:
            rows.append((vid, label, [float(x) for x in v]))
            vid += 1
    return rows


def _model_semantic(rows, min_cosine=0.99):
    # cells: nearest label-centroid (clusters are axis-separated by
    # construction, so rounding in the engine cannot flip assignment)
    by_label = {}
    for _vid, label, e in rows:
        by_label.setdefault(label, []).append(e)
    cents = {l: np.mean(np.array(vs), axis=0) for l, vs in by_label.items()}
    cell = {
        vid: min(cents, key=lambda l: float(np.sum((np.array(e) - cents[l]) ** 2)))
        for vid, _label, e in rows
    }
    pairs = []
    for i, (va, _la, ea) in enumerate(rows):
        for vb, _lb, eb in rows[i + 1 :]:
            if cell[va] != cell[vb]:
                continue
            a, b = np.array(ea), np.array(eb)
            cos = np.round(
                float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6
            )
            if cos >= min_cosine:
                pairs.append((min(va, vb), max(va, vb)))
    dropped = {b for _a, b in pairs}
    return dropped, pairs


def test_semantic_task_keep_min_matches_semdedup_rule(dedup_ctx, spark):
    """method=semantic, keep=min: dropped == every vector with a
    qualifying smaller-id neighbor IN ITS CELL (the published SemDeDup
    rule, q_dedup_semantic's engine)."""
    rows = _semantic_task_corpus()
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    dedup_ctx.db.replace_table("se_src", df)
    _run_task(
        dedup_ctx,
        "se_dedup",
        {
            "source": "se_src",
            "destination": "se_out",
            "method": "semantic",
            "id_column": "vec_id",
        },
    )
    got = {r.vec_id for r in spark.table("se_out").collect()}
    dropped, pairs = _model_semantic(rows)
    assert got == {vid for vid, _l, _e in rows} - dropped
    # corpus sanity: both verdicts exercised per cluster
    assert len(dropped) == 4  # scaled copy + tiny rotation, per label
    assert len(got) == 4  # base + large rotation survive, per label


def test_semantic_task_keep_soft_weights(dedup_ctx, spark):
    rows = _semantic_task_corpus()
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    dedup_ctx.db.replace_table("se_soft_src", df)
    _run_task(
        dedup_ctx,
        "se_soft",
        {
            "source": "se_soft_src",
            "destination": "se_soft_out",
            "method": "semantic",
            "id_column": "vec_id",
            "keep": "soft",
        },
    )
    got = {r.vec_id: r.weight_ppm for r in spark.table("se_soft_out").collect()}
    _dropped, pairs = _model_semantic(rows)
    ids = [vid for vid, _l, _e in rows]
    clusters = _union_find_clusters(ids, pairs)
    size_of = {}
    for m in clusters.values():
        for d in m:
            size_of[d] = len(m)
    assert got == {d: 1000000 // size_of[d] for d in ids}


def test_semantic_task_min_cosine_threshold(dedup_ctx, spark):
    """min_cosine=0.95 widens the drop set to the ~0.96 rotation."""
    rows = _semantic_task_corpus()
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    dedup_ctx.db.replace_table("se_t_src", df)
    _run_task(
        dedup_ctx,
        "se_t",
        {
            "source": "se_t_src",
            "destination": "se_t_out",
            "method": "semantic",
            "id_column": "vec_id",
            "min_cosine": 0.95,
        },
    )
    got = {r.vec_id for r in spark.table("se_t_out").collect()}
    dropped, _ = _model_semantic(rows, min_cosine=0.95)
    assert got == {vid for vid, _l, _e in rows} - dropped
    assert len(got) == 2  # only the two bases survive


def test_semantic_task_rejects_string_ids(dedup_ctx, spark):
    df = spark.createDataFrame(
        [("a", "A", [1.0, 0.0])], "vec_id string, label string, embedding array<double>"
    )
    dedup_ctx.db.replace_table("se_bad_src", df)
    with pytest.raises(ValueError, match="integer id_column"):
        _run_task(
            dedup_ctx,
            "se_bad",
            {
                "source": "se_bad_src",
                "destination": "se_bad_out",
                "method": "semantic",
                "id_column": "vec_id",
            },
        )


# -- color baseline JPEG (VERDICT r8 item 4) ------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _color_payload(yb, cbb, crb, ri=0, sampling=(2, 2)):
    """Encode block-constant planes from small per-block value grids."""
    from sayn_spark.functions.multimodal import jpeg_encode_color

    ones = np.ones((8, 8), dtype=np.int64)
    mh, mw = np.asarray(cbb).shape
    return jpeg_encode_color(
        np.kron(np.asarray(yb), ones).astype(np.uint8).tobytes(),
        np.kron(np.asarray(cbb), ones).astype(np.uint8).tobytes(),
        np.kron(np.asarray(crb), ones).astype(np.uint8).tobytes(),
        mw * 8 * sampling[0],
        mh * 8 * sampling[1],
        restart_interval=ri,
        sampling=sampling,
    )


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    mw=st.integers(min_value=1, max_value=3),
    mh=st.integers(min_value=1, max_value=3),
    ri=st.integers(min_value=0, max_value=3),
    sh=st.integers(min_value=1, max_value=2),
    sv=st.integers(min_value=1, max_value=2),
    data=st.data(),
)
def test_jpeg_color_block_constant_roundtrip_property(mw, mh, ri, sh, sv, data):
    """PROPERTY: any block-constant YCbCr image round-trips all three
    planes bit-exactly under flat quant, for EVERY supported sampling
    layout (4:2:0 / 4:2:2 / 4:4:0 / 4:4:4 — each decode path gets a
    round-trip witness, not just the web-default 2x2) and ANY restart
    interval (0 = no DRI; 1-3 exercise RSTn cycling + DC predictor
    resets) — the exactness the registered color oracle relies on."""
    from sayn_spark.functions.multimodal import jpeg_parse

    def grid(rows, cols):
        return np.array(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=255),
                    min_size=rows * cols,
                    max_size=rows * cols,
                )
            )
        ).reshape(rows, cols)

    yb = grid(sv * mh, sh * mw)
    cbb = grid(mh, mw)
    crb = grid(mh, mw)
    payload = _color_payload(yb, cbb, crb, ri=ri, sampling=(sh, sv))
    w, h, nc, planes = jpeg_parse(payload, want_planes=True)
    assert (w, h, nc) == (mw * 8 * sh, mh * 8 * sv, 3)
    ones = np.ones((8, 8), dtype=np.int64)
    for plane, blocks in zip(planes, (yb, cbb, crb)):
        want = np.kron(blocks, ones).astype(np.uint8)
        pw, ph, px = plane
        assert (pw, ph) == (want.shape[1], want.shape[0])
        assert px == want.tobytes()


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(cut=st.integers(min_value=0, max_value=900), seed=st.integers(0, 1000))
def test_jpeg_color_truncated_payload_never_hangs(cut, seed):
    """Truncation property extended to the color decoder (interleaved
    MCUs + restart markers): clean error or clean return, never a
    hang."""
    from sayn_spark.functions.multimodal import jpeg_parse

    rng = np.random.default_rng(seed)
    payload = _color_payload(
        rng.integers(0, 256, (4, 4)),
        rng.integers(0, 256, (2, 2)),
        rng.integers(0, 256, (2, 2)),
        ri=1,
    )
    try:
        jpeg_parse(payload[: min(cut, len(payload))], want_pixels=True)
    except (ValueError, NotImplementedError):
        pass  # the only two exception types the decoder contract allows


def test_jpeg_color_gray_content_is_neutral_and_feeds_phash():
    """Gray content (Cb=Cr=128) in a color JPEG decodes to the same
    luma plane image_gray_pixels returns — so method=phash hashes
    color crawl JPEGs identically to their grayscale twins."""
    from sayn_spark.functions.multimodal import (
        image_gray_pixels,
        jpeg_encode,
        jpeg_parse,
    )

    yb = np.array([[17, 210], [128, 64]])
    ones = np.ones((8, 8), dtype=np.int64)
    y = np.kron(yb, ones).astype(np.uint8)
    color = _color_payload(yb, np.full((1, 1), 128), np.full((1, 1), 128), ri=2)
    gray = jpeg_encode(y.tobytes(), 16, 16)
    w, h, px = image_gray_pixels(color)
    wg, hg, pxg = image_gray_pixels(gray)
    assert (w, h) == (wg, hg) == (16, 16)
    assert bytes(px) == bytes(pxg) == y.tobytes()
    assert jpeg_parse(color)[2] == 3  # metadata sees 3 components


def test_jpeg_color_edge_mcu_crop():
    """SOF dims need not fill the MCU grid: patching a 32x32 file's
    frame header to 28x22 must crop luma to 28x22 and chroma to 14x11
    (ceil of half) while decoding the same block stream."""
    from sayn_spark.functions.multimodal import jpeg_parse

    rng = np.random.default_rng(7)
    yb, cbb, crb = (
        rng.integers(0, 256, (4, 4)),
        rng.integers(0, 256, (2, 2)),
        rng.integers(0, 256, (2, 2)),
    )
    payload = bytearray(_color_payload(yb, cbb, crb))
    sof = payload.index(b"\xff\xc0")
    # body: len(2) precision(1) height(2) width(2)
    payload[sof + 5 : sof + 9] = (22).to_bytes(2, "big") + (28).to_bytes(2, "big")
    w, h, nc, planes = jpeg_parse(bytes(payload), want_planes=True)
    assert (w, h, nc) == (28, 22, 3)
    ones = np.ones((8, 8), dtype=np.int64)
    wanty = np.kron(yb, ones).astype(np.uint8)[:22, :28]
    wantcb = np.kron(cbb, ones).astype(np.uint8)[:11, :14]
    assert planes[0][:2] == (28, 22) and planes[0][2] == wanty.tobytes()
    assert planes[1][:2] == (14, 11) and planes[1][2] == wantcb.tobytes()


def test_jpeg_color_restart_sequence_is_verified():
    """A restart marker out of cycle (RST0 corrupted to RST4) must
    raise, not silently desynchronize the DC predictors."""
    from sayn_spark.functions.multimodal import jpeg_parse

    rng = np.random.default_rng(11)
    payload = bytearray(
        _color_payload(
            rng.integers(0, 256, (4, 4)),
            rng.integers(0, 256, (2, 2)),
            rng.integers(0, 256, (2, 2)),
            ri=1,
        )
    )
    sos = payload.index(b"\xff\xda")
    first_rst = payload.index(b"\xff\xd0", sos)
    payload[first_rst + 1] = 0xD4
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_parse(bytes(payload), want_pixels=True)


def test_jpeg_color_encoder_validation():
    from sayn_spark.functions.multimodal import jpeg_encode_color

    y16 = bytes(16 * 16)
    c8 = bytes(8 * 8)
    with pytest.raises(ValueError, match="multiples of 16"):
        jpeg_encode_color(bytes(8 * 8), bytes(16), bytes(16), 8, 8)
    with pytest.raises(ValueError, match="luma"):
        jpeg_encode_color(y16[:-1], c8, c8, 16, 16)
    with pytest.raises(ValueError, match="u16"):
        jpeg_encode_color(y16, c8, c8, 16, 16, restart_interval=70000)
    with pytest.raises(ValueError, match="quant_chroma"):
        jpeg_encode_color(y16, c8, c8, 16, 16, quant_chroma=[0] * 64)


def test_phash_task_color_jpeg_payloads(dedup_ctx, spark):
    """method=phash on COLOR JPEG payloads: a color JPEG and a
    grayscale JPEG with the same luma plane must dedupe to one kept
    row (dHash runs on the luma either way)."""
    from sayn_spark.functions.multimodal import jpeg_encode

    rng = np.random.default_rng(3)
    yb = rng.integers(0, 256, (2, 2))
    ones = np.ones((8, 8), dtype=np.int64)
    y = np.kron(yb, ones).astype(np.uint8)
    rows = [
        (1, bytearray(_color_payload(yb, np.full((1, 1), 90), np.full((1, 1), 170), ri=1))),
        (2, bytearray(jpeg_encode(y.tobytes(), 16, 16))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    dedup_ctx.db.replace_table("ph_c_src", df)
    _run_task(
        dedup_ctx,
        "ph_c",
        {"source": "ph_c_src", "destination": "ph_c_out", "method": "phash"},
    )
    got = {r.doc_id for r in spark.table("ph_c_out").collect()}
    assert got == {1}


# -- editdistance promotion ------------------------------------------------


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _editdistance_corpus():
    """Groups sharing a 30-char prefix (the blocking key) with suffix
    mutations straddling the distance-8 verify, plus a near-identical
    pair in DIFFERENT prefix blocks (prefix edit) that the single
    prefix key must miss and the shipped dual prefix∪suffix key set
    must recover — pinning the documented blocking trade AND its
    r10 closure, not just the happy path."""
    rows = []
    did = 0
    for g in range(3):
        prefix = f"group{g:02d} " + "x" * 22  # > block_chars=24 shared
        rows.append((did, prefix + " tail alpha beta gamma"))
        rows.append((did + 1, prefix + " tail alpha beta gamZZ"))      # dist 2
        rows.append((did + 2, prefix + " tail QQQQQ WWWWW EEEEE"))     # dist ~15
        did += 3
    rows.append((did, "Zfirst char differs " + "y" * 30))
    rows.append((did + 1, "Qfirst char differs " + "y" * 30))  # dist 1, other block
    return rows


def _model_editdistance_kept(
    rows, max_edit=8, block_chars=24, block_keys=("prefix", "suffix")
):
    ids = sorted(d for d, _ in rows)
    text = dict(rows)

    def blocked(a, b):
        hit = False
        if "prefix" in block_keys:
            hit = hit or text[a][:block_chars] == text[b][:block_chars]
        if "suffix" in block_keys:
            hit = hit or text[a][-block_chars:] == text[b][-block_chars:]
        return hit

    pairs = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if blocked(a, b) and _levenshtein(text[a], text[b]) <= max_edit
    ]
    clusters = _union_find_clusters(ids, pairs)
    return {min(m) for m in clusters.values()}, pairs


def test_editdistance_task_lifecycle_matches_model(dedup_ctx, spark):
    rows = _editdistance_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("ed_src", df)
    _run_task(
        dedup_ctx,
        "ed_dedup",
        {"source": "ed_src", "destination": "ed_out", "method": "editdistance"},
    )
    got = {r.doc_id for r in spark.table("ed_out").collect()}
    want, pairs = _model_editdistance_kept(rows)
    assert got == want
    # corpus sanity under the dual default: 3 in-group distance-2 pairs
    # (prefix key), 9 cross-group same-variant pairs at distance 2 — the
    # group tag IS a prefix edit, so only the suffix key sees them — and
    # the planted cross-block distance-1 pair (9, 10), also suffix-only
    assert len(pairs) == 13
    assert 9 in got and 10 not in got


def test_editdistance_task_single_key_restores_prefix_only(dedup_ctx, spark):
    """block_keys: [prefix] is the r9 single-key plan: the cross-block
    distance-1 pair (9, 10) goes back to being structurally missed."""
    rows = _editdistance_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("ed_p_src", df)
    _run_task(
        dedup_ctx,
        "ed_p",
        {
            "source": "ed_p_src",
            "destination": "ed_p_out",
            "method": "editdistance",
            "block_keys": ["prefix"],
        },
    )
    got = {r.doc_id for r in spark.table("ed_p_out").collect()}
    want, pairs = _model_editdistance_kept(rows, block_keys=("prefix",))
    assert got == want
    assert len(pairs) == 3
    assert {9, 10} <= got


def test_editdistance_task_options(dedup_ctx, spark):
    rows = _editdistance_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_ctx.db.replace_table("ed_o_src", df)
    _run_task(
        dedup_ctx,
        "ed_o",
        {
            "source": "ed_o_src",
            "destination": "ed_o_out",
            "method": "editdistance",
            "max_edit": 1,
            "block_chars": 10,
        },
    )
    got = {r.doc_id for r in spark.table("ed_o_out").collect()}
    want, _ = _model_editdistance_kept(rows, max_edit=1, block_chars=10)
    assert got == want
    from sayn_spark.operators.dedup import DedupTask

    for bad in (
        {"source": "t", "destination": "o", "method": "editdistance", "max_edit": 0},
        {"source": "t", "destination": "o", "method": "editdistance",
         "threshold": 0.8},
        {"source": "t", "destination": "o", "method": "minhash", "max_edit": 3},
        {"source": "t", "destination": "o", "method": "minhash",
         "block_keys": ["prefix"]},
        {"source": "t", "destination": "o", "method": "editdistance",
         "block_keys": []},
        {"source": "t", "destination": "o", "method": "editdistance",
         "block_keys": ["prefix", "prefix"]},
        {"source": "t", "destination": "o", "method": "editdistance",
         "block_keys": ["midfix"]},
    ):
        t = DedupTask("bad", bad, dedup_ctx)
        with pytest.raises(ValueError):
            t.config()


def test_editdistance_recall_report_shape(spark):
    """The blocking-recall instrument (q_dedup_editdistance_recall)
    must report a consistent integer ledger: blocked + missed = true
    for BOTH key sets, recall_ppm the floor-division of the two — and
    on the adversarial corpus (suffix twins AND prefix twins) the
    single prefix key must show a NONZERO miss count (the r9
    instrument's corpus structurally could not) while the shipped
    prefix∪suffix dual key recovers every planted pair."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.functions.registry import release_persisted

    try:
        row = (
            REGISTRY["q_dedup_editdistance_recall"]
            .fn(spark, SF_SMOKE)
            .collect()[0]
        )
    finally:
        release_persisted()
    assert row.n_true_pairs == row.n_blocked_true + row.n_missed_cross_block
    assert row.n_true_pairs == row.n_dual_true + row.n_missed_dual
    assert row.recall_ppm == (row.n_blocked_true * 1_000_000) // max(
        row.n_true_pairs, 1
    )
    assert row.recall_dual_ppm == (row.n_dual_true * 1_000_000) // max(
        row.n_true_pairs, 1
    )
    assert row.n_true_pairs > 0  # the sampled copies must register
    # the planted prefix edits ARE missed by the single prefix key...
    assert row.n_missed_cross_block > 0
    # ...and recovered by the dual key set the production operator
    # ships.  The residual dual misses are NATURAL near-dups differing
    # in both ends (6 pairs at sf0.001, 0 at sf0.01) — the honest
    # remainder the instrument exists to expose, so the bound is
    # corpus-calibrated, not an absolute zero.
    assert row.n_missed_dual < row.n_missed_cross_block
    assert row.recall_dual_ppm >= 950_000 > row.recall_ppm


# -- review fixes: strict never samples; JPEG truncation contract ---------


def test_containment_strict_measures_exactly_despite_sampling(spark, monkeypatch):
    """Review fix: under sampling (big corpora), mode='measure' is a
    best-effort estimate and may stay silent on an unsampled breach —
    but mode='strict' must measure EXACTLY and still raise.  Forced
    here by capping the exact-measure threshold at 1 doc and planting
    the out-of-contract pair on a small-side doc the 1-in-5 xxhash
    sample EXCLUDES."""
    import warnings

    from pyspark.sql import functions as F

    import sayn_spark.functions.dedup as D
    from sayn_spark.functions.registry import release_persisted

    probe = (
        spark.range(2, 60)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(5)).alias("m"))
        .collect()
    )
    unsampled = next(int(r.id) for r in probe if r.m != 0)
    base = [f"t{i}" for i in range(66)]  # 64 shingles -> part 6
    docs = {
        1: base,
        unsampled: base[10:17],  # 5 shingles, contained, ratio 12.8
        70: ["a", "b", "c"],
        71: [f"m{i}" for i in range(12)],
    }
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string"
    )
    monkeypatch.setattr(D, "_OOC_EXACT_MAX_DOCS", 1)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # sampled measure: silent
            D.gated_containment_pairs(df).collect()
        with pytest.raises(ValueError, match="measured 1 qualifying"):
            D.gated_containment_pairs(df, spread_check="strict").collect()
    finally:
        release_persisted()


def test_jpeg_truncation_raises_valueerror_not_indexerror():
    """The decoder's crawl-facing error contract: malformed payloads
    raise ValueError (never raw IndexError/KeyError/struct.error)."""
    from sayn_spark.functions.multimodal import jpeg_parse

    payload = _gray_jpeg()
    cases = [
        b"\xff\xd8\xff\xff",          # ends in fill bytes
        b"\xff\xd8\xff\xdb",          # marker with no length field
        payload[:21],                  # truncated header segment
        payload[: len(payload) - 40],  # truncated entropy scan
    ]
    for c in cases:
        with pytest.raises((ValueError, NotImplementedError)):
            jpeg_parse(c, want_pixels=True)
