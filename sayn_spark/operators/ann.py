"""ANN index task: the similarity-search index as a YAML-native task —
the IVF build that q_ivf_centroids / q_ivf_search / q_kmeans_refine
demonstrate as queries, promoted to a catalog-managed artifact the way
`type: dedup` promotes the dedup operators:

    tasks:
      build_vec_index:
        type: ann_index
        source: embeddings
        index: vec_index          # table prefix
        label_column: label       # optional centroid seed
        n_cells: 16               # seed by id-hash when no label_column
        refine_iters: 1           # Lloyd iterations after seeding
        method: ivfpq             # ivf (default) | ivfpq | ivfsq8
                                  #   | ivfbin (packed sign bits +
                                  #   Hamming scan, 16 bytes/vector)
                                  #   | cascade (sq8 + binary layers
                                  #   over one grid — searched as the
                                  #   Hamming -> SQ8 -> exact cascade)
        codebook: trained         # ivfpq only: seed (default) | trained
        pq_iters: 3               # trained: per-subspace Lloyd steps
        encode: residual          # ivfpq only: vector (default) |
                                  # residual (quantize e - centroid,
                                  # the FAISS IVFPQ default — sharper
                                  # ADC on clustered corpora)

Every method builds two catalog tables, plus the quantizer and code
side tables the one layout table names (functions/similarity.py:
``_ANN_LAYOUT``; e.g. ivfpq adds ``{index}_codebook`` and
``{index}_codes``).  A full build owns exactly its method's side
tables and drops any other method's:

- ``{index}_centroids`` (c_label, ce: array<double>) — the coarse
  quantizer, small enough to broadcast at any scale.
- ``{index}_vectors`` (vec_id, cell, e, nrm) BUCKETED BY cell — the
  inverted file.  Searches join probes against it on the cell key, so
  the big side arrives pre-bucketed and only query rows shuffle; each
  query reads nprobe/k of the corpus.

Search is a library call over the tables
(functions/similarity.py:ann_catalog_search), so any task or ad-hoc
session can query an index built by a previous run — the index
persists; rebuilds are full (replace_table semantics, like autosql
``table``).

Determinism contract matches the registered queries: centroid means
sum in DECIMAL and round to 8dp; distances fold left-to-right and
round before argmin; every top-k carries a unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.functions.similarity import (
    _ANN_LAYOUT,
    _assign_cells,
    _bq_words,
    _centroid_arrays,
    _pq_subvectors,
    _sq8_encode,
    _stored_encoding,
    _stored_method,
    sq8_range_row,
)
from sayn_spark.operators.base import Task, TaskStatus

# MUST match spark.sql.shuffle.partitions (32 in session.py): Spark
# only satisfies a join's required distribution from a bucketed scan
# when the bucket count equals the expected partition count — with a
# mismatch both sides re-shuffle and the bucketing buys nothing.
_VEC_BUCKETS = 32
_BY_CELL = (_VEC_BUCKETS, ["cell"])  # every per-vector table's bucket spec


class AnnIndexTask(Task):
    kind = "ann_index"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        # the PHYSICAL base name all side tables derive from: routed
        # through the dev/prod stringify like every other destination —
        # writing the raw name would make a dev run (table_prefix: dev)
        # rebuild the PRODUCTION index tables from dev data while the
        # DAG believed the stringified outputs were written.
        # ann_search derives identically.
        self.declare_table("index", "index", output=True, needs="index (table prefix)")
        self.id_column = c.get("id_column", "vec_id")
        self.vector_column = c.get("vector_column", "embedding")
        self.label_column = c.get("label_column")
        self.method = c.get("method", "ivf")
        if self.method not in _ANN_LAYOUT:
            raise ValueError(
                f"ann_index task {self.name!r}: method must be " + "|".join(_ANN_LAYOUT)
            )
        self.n_cells = int(c.get("n_cells", 16))
        if self.n_cells < 1:
            raise ValueError(f"ann_index task {self.name!r}: n_cells must be >= 1")
        self.refine_iters = int(c.get("refine_iters", 0))
        if self.refine_iters < 0:
            raise ValueError(f"ann_index task {self.name!r}: refine_iters must be >= 0")
        # PQ codebook construction: "seed" keeps the deterministic
        # 16-lowest-id stand-in (oracle-stable); "trained" runs
        # pq_iters per-subspace Lloyd steps from those same seeds —
        # still fully deterministic (decimal-exact means, rounded
        # distances, codeword-id tie-breaks), but the codewords adapt
        # to the corpus, which is what ADC recall lives on at scale.
        self.codebook = c.get("codebook", "seed")
        if self.codebook not in ("seed", "trained"):
            raise ValueError(
                f"ann_index task {self.name!r}: codebook must be seed|trained"
            )
        self.pq_iters = int(c.get("pq_iters", 3))
        if self.pq_iters < 1:
            raise ValueError(f"ann_index task {self.name!r}: pq_iters must be >= 1")
        if self.codebook == "trained" and self.method != "ivfpq":
            raise ValueError(
                f"ann_index task {self.name!r}: codebook applies to method=ivfpq only"
            )
        # encode: "vector" quantizes the raw vector; "residual"
        # quantizes vector - cell centroid (the FAISS IVFPQ default) —
        # codewords only need to span WITHIN-cell offsets, not the
        # whole space, so ADC shortlists sharpen on clustered corpora.
        # The choice is persisted on the codebook table (enc column);
        # searches and incremental inserts read it from there.
        self.encode = c.get("encode", "vector")
        if self.encode not in ("vector", "residual"):
            raise ValueError(
                f"ann_index task {self.name!r}: encode must be vector|residual"
            )
        if self.encode == "residual" and self.method != "ivfpq":
            raise ValueError(
                f"ann_index task {self.name!r}: encode applies to method=ivfpq only"
            )
        # incremental: insert new vectors into the EXISTING index (the
        # FAISS `add` path) — frozen centroids/codebook, bucketed
        # appends, anti-join replay safety.  Rebuild (mode: full) to
        # retrain the quantizers.
        self.read_load_mode()
        if self.incremental and self.refine_iters:
            raise ValueError(
                f"ann_index task {self.name!r}: incremental inserts keep centroids "
                "frozen — refine_iters requires a full rebuild"
            )
        # declared side-table outputs derive from the STRINGIFIED base,
        # exactly like the run-time writes — stringifying the raw
        # compound name instead coincides under table_prefix but
        # diverges under table_suffix/table_override (declared
        # idx_vectors_dev vs written idx_dev_vectors), declaring
        # outputs that are never written (advice r12).  The base object
        # above carries the DAG edge and the --upstream-prod redirect,
        # both invariant to stringify rules.
        for suffix in ("_centroids", "_vectors", *_ANN_LAYOUT[self.method]):
            self.outputs.add(
                self.context.obj_compiler.from_string(f"{self.index}{suffix}")
            )
        self.status = TaskStatus.READY

    def _emb(self) -> DataFrame:
        df = self.context.spark.table(self.src_value)
        self.require_columns(df, [self.id_column, self.vector_column])
        if self.label_column:
            # the seed label becomes the BIGINT inverted-file cell key;
            # a non-numeric label would cast to NULL and every probe
            # would silently return empty (NULL never joins) — fail
            # loudly here instead (ADVICE r5)
            ltype = dict(df.dtypes)[self.label_column]
            if ltype not in ("tinyint", "smallint", "int", "bigint"):
                raise ValueError(
                    f"ann_index task {self.name!r}: label_column "
                    f"{self.label_column!r} is {ltype}, but cell keys must "
                    "be integer — pre-hash string labels (e.g. "
                    "xxhash64(label)) in an upstream task"
                )
        else:
            # the hash-seed path pmods the ID into a cell key and has
            # the same silent-NULL hazard as a non-integer label: a
            # string id coerces to double NULL, every vector lands in
            # cell NULL, and every probe returns empty
            itype = dict(df.dtypes)[self.id_column]
            if itype not in ("tinyint", "smallint", "int", "bigint"):
                raise ValueError(
                    f"ann_index task {self.name!r}: id_column "
                    f"{self.id_column!r} is {itype}, but the hash-seeded "
                    "cell key pmods the id — pre-hash string ids (e.g. "
                    "xxhash64(id)) in an upstream task, or seed via an "
                    "integer label_column"
                )
        seed = (
            F.col(self.label_column)
            if self.label_column
            else F.pmod(F.col(self.id_column), F.lit(self.n_cells))
        )
        out = df.select(
            F.col(self.id_column).alias("vec_id"),
            seed.alias("label"),
            F.expr(f"cast({self.vector_column} as array<double>)").alias("e"),
        )
        # the centroid-distance HOFs are interpreted, not codegen'd — a
        # narrow scan of a small catalog table would run them serial
        from sayn_spark.functions.dedup import fan_out_table

        return fan_out_table(out, self.context.spark, self.src_value)

    def run(self) -> None:
        db = self.context.db
        if self.incremental:
            self._run_incremental()
            return
        # a full build owns exactly its method's side tables: another
        # method's layers left behind would steer ann_catalog_search
        # (which dispatches on the catalog) onto stale codes.  Dropped
        # first, so no reader ever sees a stale layer over new vectors.
        owned = _ANN_LAYOUT[self.method]
        for suffix in dict.fromkeys(s for sides in _ANN_LAYOUT.values() for s in sides):
            if suffix not in owned:
                db.drop_object(f"{self.index}{suffix}")
        emb = self._emb().localCheckpoint()  # read by seed + every Lloyd pass
        cent = _centroid_arrays(emb.select("label", "e"))
        for _ in range(self.refine_iters):
            cells = _assign_cells(emb, cent)
            assigned = emb.join(cells, "vec_id").select(
                F.col("cell").alias("label"), "e"
            )
            cent = _centroid_arrays(assigned)
        cent = cent.localCheckpoint()  # read by the table write AND final assign
        db.replace_table(f"{self.index}_centroids", cent)
        cells = _assign_cells(emb, cent)
        vectors = (
            emb.join(cells, "vec_id")
            .select(
                "vec_id",
                # BIGINT bucket key: a planner-inserted cast on the
                # bucket column disables bucketed scans entirely
                # ("Bucketed: false (disabled by query planner)"), so
                # the key's type must match what probes produce
                F.col("cell").cast("bigint").alias("cell"),
                "e",
                F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("nrm"),
            )
            # INDEX INVARIANT (r14): nrm > 0 for every stored vector.  A
            # zero-norm vector (the embed task's empty-doc contract) has
            # undefined cosine against everything, so under the NULL-cos-
            # never-ranks semantics (r13) it could never match — dropping
            # it here lets every search path divide plainly instead of
            # paying try_divide + NULL-filter per candidate row.
            .where(F.col("nrm") > 0)
        )
        # bucketed inverted file, rebuilt atomically: write to a staging
        # table, then rename over the old one (RENAME carries the bucket
        # spec) — readers never observe a missing or half-written index.
        # Every per-vector layer below is swapped the same way.
        db.replace_table(
            f"{self.index}_vectors", vectors, tmp_swap=True, bucket_by=_BY_CELL
        )
        if self.method == "ivfpq":
            self._build_pq()
        elif owned:
            self._build_grid_layers()

    def _run_incremental(self) -> None:
        """Insert new source vectors into the existing index: assign to
        the FROZEN centroids, bucketed append to ``{index}_vectors``,
        and encode every code layer under the frozen quantizers.
        Anti-joins on the target tables make every write replay-safe
        and self-healing — a crash between two appends repairs on the
        next run."""
        db = self.context.db
        for t in (f"{self.index}_centroids", f"{self.index}_vectors"):
            if not db.table_exists(t):
                raise ValueError(
                    f"ann_index task {self.name!r}: incremental insert needs an "
                    f"existing index ({t} missing) — run a full build first"
                )
        built = _stored_method(db, self.index)
        if self.method != built:
            raise ValueError(
                f"ann_index task {self.name!r}: {self.index} was built with "
                f"method={built} — inserting with method={self.method} would "
                "leave the quantizer layers stale; set method to match "
                "(or rebuild full)"
            )
        # ALL validation before any write: raising after the vector
        # append would strand a half-inserted batch behind the anti-join
        if self.method == "ivfpq":
            stored_enc = _stored_encoding(self.context.spark, self.index)
            if stored_enc != self.encode:
                raise ValueError(
                    f"ann_index task {self.name!r}: {self.index} was built with "
                    f"encode={stored_enc} — inserting with encode={self.encode} "
                    "would mix incompatible codes; set encode to match (or "
                    "rebuild full)"
                )
        # the shared engine does the anti-join insert + codes self-heal
        # (stream_ann_ingest drives the same function per micro-batch)
        ann_insert_batch(
            self.context.spark, db, self.index, self._emb().select("vec_id", "e")
        )

    def _build_grid_layers(self) -> None:
        """The SQ8-grid layers over the IVF cells, as many as the
        method's layout names: ``{index}_sq8grid`` (one row —
        per-dimension lo/hi arrays, the trained scalar quantizer) and,
        bucketed by cell, ``{index}_sq8codes`` (vec_id, cell, c:
        array<bigint> 0..255 — q_ann_sq8_topk's symmetric-integer
        design) and/or ``{index}_binwords`` (vec_id, cell, w1, w2: two
        BIGINT words of packed sign bits, 16 bytes/vector —
        q_ann_binary_hamming's design).  Binarisation is the top bit of
        the SQ8 code, i.e. sign against the grid midpoint, so cascade's
        two layers derive from ONE code frame and are consistent by
        construction (a bit flip between them would break the tier-1 ->
        tier-2 refinement monotonicity).  Encoding is a row-local fold
        against the broadcast grid: the build shuffles nothing beyond
        the bucketed writes."""
        db = self.context.db
        spark = self.context.spark
        layers = _ANN_LAYOUT[self.method]
        vec = spark.table(f"{self.index}_vectors")
        db.replace_table(f"{self.index}_sq8grid", sq8_range_row(vec.select("vec_id", "e")))
        codes = _sq8_encode(
            vec.select("vec_id", "cell", "e"), spark.table(f"{self.index}_sq8grid")
        )
        if "_sq8codes" in layers and "_binwords" in layers:
            codes = codes.localCheckpoint()  # read by both layer writes
        for suffix, rows in (("_sq8codes", codes), ("_binwords", _bq_words(codes))):
            if suffix in layers:
                db.replace_table(
                    f"{self.index}{suffix}", rows, tmp_swap=True, bucket_by=_BY_CELL
                )

    def _train_pq(self, subs: DataFrame, seed_ids: DataFrame) -> DataFrame:
        """Per-subspace k-means codebook (s, c, cw): 16 codewords per
        subspace, seeded from the 16 lowest-id vectors' sub-vectors
        (relabelled to dense c = 0..15 by id rank) and refined with
        ``pq_iters`` Lloyd steps — the same distributed shape as the
        coarse level (functions/similarity.py:_centroid_arrays /
        _assign_cells) run once per subspace, with all 8 subspaces in
        one frame.  Determinism: decimal-exact per-dimension means
        rounded to 8, distances rounded to 8 before the argmin,
        codeword-id tie-break; empty codewords keep their previous
        position (no respawn heuristics).  The 8x16 codebook is
        broadcast-sized at any corpus scale — only the (vec_id, s,
        sub) assignment stage is distributed."""
        w_seed = Window.orderBy("vec_id")  # 16 rows: global window is fine
        seeds = seed_ids.select(
            "vec_id", (F.row_number().over(w_seed) - 1).alias("c")
        )
        cb = subs.join(F.broadcast(seeds), "vec_id").select(
            "s", "c", F.col("sub").alias("cw")
        )
        d2 = F.round(
            F.expr(
                "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
            ),
            8,
        )
        w_assign = Window.partitionBy("vec_id", "s").orderBy("d2", "c")
        for _ in range(self.pq_iters):
            assigned = (
                subs.join(F.broadcast(cb), "s")
                .select("vec_id", "s", "sub", "c", d2.alias("d2"))
                .withColumn("rk", F.row_number().over(w_assign))
                .where(F.col("rk") == 1)
            )
            comp = assigned.select("s", "c", F.posexplode("sub").alias("pos", "x"))
            means = comp.groupBy("s", "c", "pos").agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1)),
                    8,
                ).alias("v")
            )
            new_cb = means.groupBy("s", "c").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, v))), t -> t.v)"
                ).alias("cw")
            )
            cb = (
                cb.select("s", "c", F.col("cw").alias("old_cw"))
                .join(new_cb, ["s", "c"], "left")
                .select("s", "c", F.coalesce("cw", "old_cw").alias("cw"))
                .localCheckpoint()  # cut the per-iteration lineage
            )
        return cb

    def _build_pq(self) -> None:
        """PQ layer over the IVF cells: ``{index}_codebook`` (s, c, cw)
        — 8 subspaces x 16 codewords, broadcast-sized — and
        ``{index}_codes`` (vec_id, cell, s, c) bucketed by cell, the
        8-small-ints-per-vector representation the ADC scan reads
        instead of raw vectors (the q_ann_ivfpq_topk design, persisted).

        ``codebook: seed`` (default) uses the sub-vectors of the 16
        lowest-id vectors — the registered queries' deterministic
        stand-in.  ``codebook: trained`` runs ``pq_iters`` per-subspace
        Lloyd steps from those same seeds (see _train_pq), improving
        ADC recall on clustered corpora while staying deterministic.
        """
        db = self.context.db
        spark = self.context.spark
        residual = self.encode == "residual"
        vec = spark.table(f"{self.index}_vectors")
        enc_src = (
            _residual_frame(spark, self.index, vec.select("vec_id", "cell", "e"))
            if residual
            else vec
        )
        subs = enc_src.select("vec_id", "cell", _pq_subvectors())
        # TakeOrderedAndProject, not a global window: the 16 lowest ids
        seed_ids = vec.select("vec_id").orderBy("vec_id").limit(16)
        if self.codebook == "trained":
            cb = self._train_pq(subs, seed_ids)
        else:
            cb = (
                subs.join(F.broadcast(seed_ids), "vec_id")
                .select("s", F.col("vec_id").alias("c"), F.col("sub").alias("cw"))
            )
        db.replace_table(
            f"{self.index}_codebook", cb.withColumn("enc", F.lit(self.encode))
        )
        db.replace_table(
            f"{self.index}_codes",
            _encode_pq(spark, self.index, vec, residual),
            tmp_swap=True,
            bucket_by=_BY_CELL,
        )


def _residual_frame(spark, index: str, vec: DataFrame) -> DataFrame:
    """Replace ``e`` with the within-cell residual e - centroid:
    broadcast the (tiny) centroid table, exact double subtraction.
    ``vec`` must carry (vec_id, cell, e)."""
    cent = spark.table(f"{index}_centroids").select(
        F.col("c_label").cast("bigint").alias("cell"), "ce"
    )
    keep = [c for c in vec.columns if c != "e"]
    return vec.join(F.broadcast(cent), "cell").select(
        *keep, F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("e")
    )


def _encode_pq(spark, index: str, vec: DataFrame, residual: bool) -> DataFrame:
    """(vec_id, cell, s, c) codes for ``vec`` rows under the existing
    (frozen) ``{index}_codebook``."""
    cb = spark.table(f"{index}_codebook").drop("enc")
    if residual:
        vec = _residual_frame(spark, index, vec.select("vec_id", "cell", "e"))
    subs = vec.select("vec_id", "cell", _pq_subvectors())
    sub_d2 = F.round(
        F.expr(
            "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    return (
        subs.join(F.broadcast(cb), "s")
        .select("vec_id", "cell", "s", "c", sub_d2.alias("d2"))
        .groupBy("vec_id", "cell", "s")
        .agg(F.min(F.struct("d2", "c")).alias("m"))
        .select("vec_id", "cell", "s", F.col("m.c").alias("c"))
    )


def ann_insert_batch(spark, db, index: str, vecs: DataFrame) -> None:
    """Insert (vec_id, e: array<double>) rows into an EXISTING index
    under frozen quantizers — the engine behind the ann_index task's
    incremental mode and stream_ann_ingest.  The code layers come from
    the CATALOG (the index's stored method names them in
    ``_ANN_LAYOUT``; the codebook's enc column picks vector vs
    residual PQ), so callers cannot disagree with the index.
    Replay-safe: new rows come from an anti-join on the vectors table,
    and every layer's self-heal runs even when no new rows exist (a
    crash between two appends repairs on the next call)."""
    for t in (f"{index}_centroids", f"{index}_vectors"):
        if not db.table_exists(t):
            raise ValueError(
                f"ann_insert_batch: index table {t} missing — run a full "
                "ann_index build first"
            )
    layers = _ANN_LAYOUT[_stored_method(db, index)]
    cent = spark.table(f"{index}_centroids")
    new = vecs.join(
        spark.table(f"{index}_vectors").select("vec_id"), "vec_id", "left_anti"
    ).localCheckpoint()  # read by assign + vector/code appends
    if not new.isEmpty():
        cells = _assign_cells(new, cent)
        vectors = new.join(cells, "vec_id").select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "e",
            F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("nrm"),
        ).where(F.col("nrm") > 0)  # index invariant (r14): see run()
        db.create_table(
            f"{index}_vectors", vectors, mode="append", bucket_by=_BY_CELL
        )

    def sq8(vec: DataFrame) -> DataFrame:
        return _sq8_encode(
            vec.select("vec_id", "cell", "e"), spark.table(f"{index}_sq8grid")
        )

    # per-vector code layers, encoded under the FROZEN quantizers (the
    # codebook and grid tables are never rewritten here).  Each layer
    # heals on its own — a cascade index carries both SQ8 layers, and a
    # crash may land between their appends.
    encoders = {
        "_codes": lambda vec: _encode_pq(
            spark, index, vec, residual=_stored_encoding(spark, index) == "residual"
        ),
        "_sq8codes": sq8,
        "_binwords": lambda vec: _bq_words(sq8(vec)),
    }
    for suffix in layers:
        if suffix not in encoders:
            continue
        table = f"{index}{suffix}"
        missing = spark.table(f"{index}_vectors").join(
            spark.table(table).select("vec_id").distinct(), "vec_id", "left_anti"
        )
        if not missing.isEmpty():
            db.create_table(
                table, encoders[suffix](missing), mode="append", bucket_by=_BY_CELL
            )
