"""ANN search task: query a catalog index built by ``ann_index``
declaratively — the search half of the similarity pipeline as YAML:

    tasks:
      nearest_docs:
        type: ann_search
        index: corpus_vec_index    # ann_index's table prefix
        queries: probe_vectors     # (id, vector) table
        destination: probe_topk    # (query_id, neighbor_id, cos, rk)
        k: 5
        nprobe: 2
        id_column: vec_id          # queries' id column
        vector_column: embedding
        shortlist: 20              # quantized tiers: re-rank width
        shortlist_binary: 50       # cascade only: Hamming-tier width

The path is chosen from the CATALOG, not the config:
functions/similarity.py:ann_catalog_search reads the method the index
was built with from which side tables exist, against the one layout
table ``_ANN_LAYOUT`` the build and the heal also use.  A cascade
index searches via the three-tier retrieval cascade — packed Hamming
to ``shortlist_binary``, symmetric SQ8 to ``shortlist``, exact cosine
to ``k`` (ann_index_search_cascade, the registered q_ann_cascade_topk
shape); ivfbin via the packed XOR+popcount scan + exact re-rank
(ann_index_search_binary); ivfsq8 via the symmetric integer SQ8 scan +
exact re-rank (ann_index_search_sq8); ivfpq via ADC + exact re-rank
(ann_index_search_pq — residual encodings route automatically through
the codebook's enc column); ivf via the exact in-cell scan
(ann_index_search).  Only query rows shuffle; the
bucketed inverted file is read in place.  The destination is a full
rebuild (replace_table), so re-running a search after an incremental
index insert refreshes results idempotently.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus


class AnnSearchTask(Task):
    kind = "ann_search"

    def config(self) -> None:
        c = self.config_dict
        # the PHYSICAL index base name, derived exactly like the
        # ann_index writer: raw-name reads would hit the prod index
        # from a dev run.  The BASE object is the declared source — it
        # matches ann_index's declared base output under every
        # stringify rule (carrying the DAG edge) and is what
        # --upstream-prod redirects; the stringified _vectors side name
        # is declared too, mirroring ann_index's physically-named side
        # outputs.
        index = self.declare_table("index", "index")
        self.sources.add(self.context.obj_compiler.from_string(f"{index}_vectors"))
        self.declare_table("queries", "q_value")
        self.declare_table("destination", "dst_value", output=True)
        self.k = int(c.get("k", 5))
        self.nprobe = int(c.get("nprobe", 1))
        self.shortlist = int(c.get("shortlist", 20))
        if self.k < 1 or self.nprobe < 1 or self.shortlist < self.k:
            raise ValueError(
                f"ann_search task {self.name!r}: need k >= 1, nprobe >= 1, "
                "shortlist >= k"
            )
        # shortlist_binary is cascade-only; the dispatch is catalog-
        # driven at RUN time, so an unset value must not constrain
        # non-cascade configs (e.g. shortlist: 100 on an ivfsq8 index).
        # Unset default: at least the SQ8 shortlist, so the cascade
        # tier ordering holds for any shortlist without extra config.
        if c.get("shortlist_binary") is None:
            self.shortlist_binary = max(50, self.shortlist)
        else:
            self.shortlist_binary = int(c.get("shortlist_binary"))
            if self.shortlist_binary < self.shortlist:
                raise ValueError(
                    f"ann_search task {self.name!r}: shortlist_binary must be "
                    ">= shortlist (each cascade tier narrows)"
                )
        self.id_column = c.get("id_column", "vec_id")
        self.vector_column = c.get("vector_column", "embedding")
        self.status = TaskStatus.READY

    def run(self) -> None:
        from sayn_spark.functions.similarity import ann_catalog_search

        spark = self.context.spark
        db = self.context.db
        for t in (f"{self.index}_centroids", f"{self.index}_vectors"):
            if not db.table_exists(t):
                raise ValueError(
                    f"ann_search task {self.name!r}: index table {t} missing — "
                    "run the ann_index build first"
                )
        qdf = spark.table(self.q_value)
        self.require_columns(qdf, [self.id_column, self.vector_column], self.q_value)
        queries = qdf.select(
            F.col(self.id_column).alias("query_id"),
            F.expr(f"cast({self.vector_column} as array<double>)").alias("e"),
        )
        out = ann_catalog_search(
            spark,
            db,
            self.index,
            queries,
            k=self.k,
            nprobe=self.nprobe,
            shortlist=self.shortlist,
            shortlist_binary=self.shortlist_binary,
        )
        self.write_destination(out)
