"""Embed task: text -> embedding column as a YAML-native task — the
front of the declarative similarity chain (embed -> ann_index ->
search / semantic dedup):

    tasks:
      embed_docs:
        type: embed
        source: documents
        destination: doc_embeddings
        dim: 64
        normalize: true

``method: feature_hash`` (default) is the hashing-trick TF vector the
engine already oracle-verifies as q_feature_hashing (functions/text.py)
— tokens hash (md5) into ``dim`` buckets, counts become the vector —
the cheap deterministic embedding when you can't run a model over
100 TB, and the stand-in that keeps the whole chain testable without
model weights.  ``method: model`` is the documented hook where a real
encoder plugs in (an Arrow-batched mapInPandas over the text column —
the plumbing is this same task; only the vectorizer changes); it
raises NotImplementedError until a model runtime is available, the
same honest boundary as the JPEG/MP4 codecs.

``srp_dim: 16`` adds a signed-random-projection reduction after
encoding (q_embedding_srp_reduce's seeded sign table, Achlioptas
2003): the JL step that cuts downstream ANN memory and distance
compute dim/srp_dim x, as a row-local plan literal — no broadcast, no
shuffle.  Applied before ``normalize`` so norms live in the searched
space.

Scale shape: one explode + two aggregations, all JVM-side (no Python
in the hot path); the vector assembly is a map_from_entries lookup
fold, and L2 normalisation is a single array pass.  Output:
(id, embedding: array<double>) — exactly what ann_index consumes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus

_TOKENS = "filter(split(lower(text), ' '), x -> x != '')"


class EmbedTask(Task):
    kind = "embed"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.method = c.get("method", "feature_hash")
        if self.method not in ("feature_hash", "model"):
            raise ValueError(f"embed task {self.name!r}: method must be feature_hash|model")
        # incremental: embed only source rows whose id is not yet in the
        # destination and append — a recurring ingest never re-encodes
        # the existing corpus (at 100 TB re-embedding IS the cost)
        self.read_load_mode()
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        self.dim = int(c.get("dim", 64))
        if self.dim < 1:
            raise ValueError(f"embed task {self.name!r}: dim must be >= 1")
        self.normalize = bool(c.get("normalize", False))
        # srp_dim: optional signed-random-projection reduction applied
        # after encoding (q_embedding_srp_reduce's engine) — the JL
        # step that cuts downstream ANN memory/compute dim/srp_dim x.
        srp = c.get("srp_dim")
        self.srp_dim = None if srp is None else int(srp)
        if self.srp_dim is not None and not 1 <= self.srp_dim < self.dim:
            raise ValueError(
                f"embed task {self.name!r}: srp_dim must be in [1, dim)"
            )
        self.status = TaskStatus.READY

    def run(self) -> None:
        if self.method == "model":
            raise NotImplementedError(
                "embed task: method=model is the hook for a real encoder "
                "(Arrow-batched mapInPandas over the text column); no model "
                "runtime is available in this environment — use "
                "method=feature_hash or plug the encoder in here"
            )
        df = self.context.spark.table(self.src_value)
        self.require_columns(df, [self.id_column, self.text_column])
        # only new ids get encoded; replay-safe by construction
        # (already-appended ids leave the batch)
        docs = (
            self.new_rows(df, self.id_column)
            .select(
                F.col(self.id_column).alias("doc_id"),
                F.col(self.text_column).alias("text"),
            )
            .where(F.col("text").isNotNull())
        )
        toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("t"))
        bucketed = toks.select(
            "doc_id",
            (
                F.expr("cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)")
                % self.dim
            ).alias("bucket"),
        )
        counts = bucketed.groupBy("doc_id", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        emb = (
            counts.groupBy("doc_id")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("bucket", "cnt"))).alias("m")
            )
            .select(
                "doc_id",
                F.expr(
                    f"transform(sequence(0, {self.dim - 1}), "
                    "i -> cast(coalesce(m[i], 0) as double))"
                ).alias("embedding"),
            )
        )
        # zero-token docs (empty / whitespace-only text) explode to no
        # token rows and would VANISH from the output — downstream
        # ann_index/semantic dedup would silently operate on fewer docs
        # than the source, and incremental mode would re-encode (and
        # re-drop) them every run since they never reach the
        # destination anti-join.  Re-anchor on the doc frame: they get
        # the zero vector (SRP-projects to zero, normalise keeps it).
        emb = (
            docs.select("doc_id")
            .join(emb, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(
                    F.col("embedding"),
                    F.expr(f"array_repeat(0D, {self.dim})"),
                ).alias("embedding"),
            )
        )
        if self.srp_dim is not None:
            # project BEFORE normalising (norms are only meaningful in
            # the space the consumer searches); row-local, no shuffle
            from sayn_spark.functions.similarity import srp_project_expr

            emb = emb.select(
                "doc_id",
                F.expr(
                    srp_project_expr(self.srp_dim, self.dim, "embedding")
                ).alias("embedding"),
            )
        if self.normalize:
            # stage the norm in its own column: an inlined aggregate()
            # inside the transform lambda would re-evaluate per element
            # (interpreted HOFs — the measured-8x pitfall)
            emb = (
                emb.withColumn(
                    "nrm",
                    F.sqrt(F.expr("aggregate(embedding, 0D, (acc, x) -> acc + x * x)")),
                )
                .select(
                    "doc_id",
                    F.when(
                        F.col("nrm") > 0,
                        F.expr("transform(embedding, x -> x / nrm)"),
                    )
                    .otherwise(F.col("embedding"))
                    .alias("embedding"),
                )
            )
        out = emb.select(F.col("doc_id").alias(self.id_column), "embedding")
        self.write_destination(out)
