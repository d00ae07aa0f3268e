"""Pack task: assign documents to fixed-size context windows — the
terminal stage of a training-data pipeline (docs -> packed training
examples), as a YAML task:

    tasks:
      pack_corpus:
        type: pack
        source: documents_mixed
        destination: packed_corpus
        context_window: 2048
        shard_column: lang        # optional: pack within shards

Greedy contiguous fill via a running token cumsum: a document's bin is
floor(pre-document cumulative tokens / window) — the q_sequence_packing
shape (oracle-verified), with the bin assignment emitted per document
(source columns + n_tokens + bin_id) so downstream stages can group by
bin to materialise examples.

Ordering contract: within a shard, documents pack in id order —
deterministic on any cluster.  Without ``shard_column`` the cumsum is
a single global window (fine up to memory-of-one-partition scale; the
registered query documents the same limit).  At 100 TB ALWAYS set
``shard_column``: packing then runs per shard — one window partition
each, fully parallel — at the cost of at most one under-filled bin per
shard, which is the standard trade.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.operators.base import Task, TaskStatus


class PackTask(Task):
    kind = "pack"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.context_window = int(c.get("context_window", 2048))
        if self.context_window < 1:
            raise ValueError(f"pack task {self.name!r}: context_window must be >= 1")
        self.shard_column = c.get("shard_column")
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        self.status = TaskStatus.READY

    def run(self) -> None:
        df = self.context.spark.table(self.src_value)
        self.require_columns(df, [self.id_column, self.text_column, self.shard_column])
        n_tokens = F.expr(
            f"size(filter(split(lower({self.text_column}), ' '), x -> x != ''))"
        )
        w = Window.orderBy(self.id_column)
        if self.shard_column:
            w = Window.partitionBy(self.shard_column).orderBy(self.id_column)
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = df.withColumn("n_tokens", n_tokens).withColumn(
            "bin_id",
            (
                (F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / self.context_window
            ).cast("bigint"),
        )
        self.write_destination(out)
