"""Shuffle task: deterministic epoch shuffle + sharding for training
order — the last stage before a dataloader reads the corpus:

    tasks:
      shuffle_epoch_0:
        type: shuffle
        source: corpus_packed
        destination: corpus_epoch0
        seed: 0                  # new seed = new permutation
        n_shards: 64

Every row gets a pseudo-random-but-reproducible position
hv = md5(seed|id); shard = hv mod n_shards; the output is written
repartitioned by shard and sorted by hv within each shard, with the
``shard`` and ``hv`` columns carried so a reader streams shards in hv
order and sees the same global permutation on ANY cluster size —
epoch re-shuffling with no RNG state (the q_epoch_shuffle design,
oracle-verified, applied as a write).

At 100 TB: one hash projection + one repartition on the shard key +
a within-partition sort — no global sort, no skew (md5 spreads ids
uniformly), and each epoch's output is a fresh deterministic layout.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus


class ShuffleTask(Task):
    kind = "shuffle"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.seed = int(c.get("seed", 0))
        self.n_shards = int(c.get("n_shards", 64))
        if self.n_shards < 1:
            raise ValueError(f"shuffle task {self.name!r}: n_shards must be >= 1")
        self.id_column = c.get("id_column", "doc_id")
        self.status = TaskStatus.READY

    def run(self) -> None:
        df = self.context.spark.table(self.src_value)
        self.require_columns(df, [self.id_column])
        hv = F.expr(
            f"cast(conv(substr(md5(concat('{self.seed}|', "
            f"cast({self.id_column} as string))), 1, 15), 16, 10) as bigint)"
        )
        out = (
            df.withColumn("hv", hv)
            .withColumn("shard", F.col("hv") % self.n_shards)
            .repartition(self.n_shards, "shard")
            .sortWithinPartitions("hv")
        )
        self.write_destination(out)
