"""Sample task: deterministic corpus subsampling as a pipeline stage —
the step between quality scoring and training-mix assembly:

    tasks:
      downsample_web:
        type: sample
        source: corpus_scored
        destination: corpus_sampled
        method: hash              # 1-in-N content-hash sampling
        rate_in: 5                # keep ~1/5
        stratify_by: lang         # optional: per-stratum rates
        rates: {en: 2, de: 10}    #   strata override rate_in

      quality_weighted:
        type: sample
        method: weighted          # Efraimidis-Spirakis A-ES
        source: corpus_scored
        destination: corpus_top
        weight_column: n_chars    # any positive score column
        k: 1000                   # sample size (per group if group_by)
        group_by: lang            # optional per-group top-k

Both methods are RNG-free: membership is a pure function of
(seed, id, weight), so re-running the task on any cluster size
re-materialises the SAME sample (the q_stratified_sample /
q_weighted_sample_es designs, oracle-verified, applied as writes).

At 100 TB: ``hash`` is a pure map-side filter (no shuffle at all);
``weighted`` draws its key map-side and the rank-<=k filter compiles
to WindowGroupLimit — per-partition partial top-k before the single
group-key exchange, so the shuffle carries O(partitions x k) slim
rows regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.operators.base import Task, TaskStatus

_METHODS = ("hash", "weighted")


def hash_sample_predicate(
    id_column: str,
    seed: int,
    rate_in: int,
    stratify_by: str | None = None,
    rates: dict | None = None,
):
    """The deterministic keep-row predicate shared by the sample task's
    hash method and its streaming twin: bucket = md5(seed|id) mod the
    row's rate (the stratum's rate when given, else rate_in); keep
    bucket 0.  A pure column expression — map-side in batch, stateless
    in a stream."""
    bucket = F.expr(
        f"cast(conv(substr(md5(concat('{seed}|', "
        f"cast({id_column} as string))), 1, 8), 16, 10) as bigint)"
    )
    rate = F.lit(int(rate_in))
    for stratum, r in (rates or {}).items():
        rate = F.when(F.col(stratify_by) == stratum, F.lit(int(r))).otherwise(rate)
    return bucket % rate == 0


class SampleTask(Task):
    kind = "sample"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.method = c.get("method", "hash")
        if self.method not in _METHODS:
            raise ValueError(
                f"sample task {self.name!r}: method must be one of {_METHODS}, "
                f"got {self.method!r}"
            )
        self.seed = int(c.get("seed", 0))
        self.id_column = c.get("id_column", "doc_id")

        if self.method == "hash":
            self.rate_in = int(c.get("rate_in", 0))
            if self.rate_in < 1:
                raise ValueError(
                    f"sample task {self.name!r}: method hash needs rate_in >= 1"
                )
            self.stratify_by = c.get("stratify_by")
            self.rates = dict(c.get("rates") or {})
            if self.rates and not self.stratify_by:
                raise ValueError(
                    f"sample task {self.name!r}: rates needs stratify_by"
                )
            for k, v in self.rates.items():
                if int(v) < 1:
                    raise ValueError(
                        f"sample task {self.name!r}: rate for stratum {k!r} "
                        f"must be >= 1, got {v!r}"
                    )
        else:
            self.weight_column = c.get("weight_column")
            if not self.weight_column:
                raise ValueError(
                    f"sample task {self.name!r}: method weighted needs weight_column"
                )
            self.k = int(c.get("k", 0))
            if self.k < 1:
                raise ValueError(
                    f"sample task {self.name!r}: method weighted needs k >= 1"
                )
            self.group_by = c.get("group_by")

        # incremental: sample only source rows the destination hasn't
        # seen and append — valid for hash (a pure per-row predicate:
        # incremental == full rebuild over the union, replay-safe).
        # Weighted is corpus-relative (the top-k depends on every row),
        # so it rejects incremental like the surprisal scorer does.
        self.read_load_mode()
        if self.incremental and self.method != "hash":
            raise ValueError(
                f"sample task {self.name!r}: method weighted is corpus-relative "
                "(the top-k depends on every row) — incremental runs would keep "
                "rows a full run wouldn't; rebuild full instead"
            )
        self.status = TaskStatus.READY

    def run(self) -> None:
        df = self.context.spark.table(self.src_value)
        if self.method == "hash":
            self.require_columns(df, [self.id_column, self.stratify_by])
            # incremental: restrict to unseen ids BEFORE filtering, then
            # append — the predicate is per-row, so the result is
            # identical to a full rebuild over the union
            out = self._run_hash(self.new_rows(df, self.id_column))
        else:
            self.require_columns(df, [self.id_column, self.weight_column, self.group_by])
            out = self._run_weighted(df)
        self.write_destination(out)

    def _run_hash(self, df):
        # per-row modulus: the stratum's rate when given, else rate_in —
        # a pure projection, so the whole sample is one map-side filter
        return df.where(
            hash_sample_predicate(
                self.id_column, self.seed, self.rate_in, self.stratify_by, self.rates
            )
        )

    def _run_weighted(self, df):
        # A-ES exponential-jumps key in exact integer units
        # (q_weighted_sample_es: -ln(u) rounds ONCE to 1e-8 units, then
        # integer floor division by the weight)
        nlnu = F.expr(
            f"cast(round(-ln((cast(conv(substr(md5(concat('{self.seed}ws|', "
            f"cast({self.id_column} as string))), 1, 8), 16, 10) as bigint) + 1)"
            f" / 4294967296.0) * 100000000) as bigint)"
        )
        keyed = (
            df.withColumn("_nlnu_i8", nlnu)
            .withColumn(
                "sample_key",
                F.expr(
                    f"cast((_nlnu_i8 * 1000000) div "
                    f"greatest(cast({self.weight_column} as bigint), 1) as bigint)"
                ),
            )
            .drop("_nlnu_i8")
        )
        part = [self.group_by] if self.group_by else []
        w_rk = (
            Window.partitionBy(*part).orderBy("sample_key", self.id_column)
            if part
            else Window.orderBy("sample_key", self.id_column)
        )
        return (
            keyed.withColumn("_rk", F.row_number().over(w_rk))
            .where(F.col("_rk") <= self.k)
            .drop("_rk")
        )
