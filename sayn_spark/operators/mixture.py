"""Mixture task: token-budget-weighted downsampling across domains —
the pretraining-mix construction stage, as a YAML task:

    tasks:
      mix_corpus:
        type: mixture
        source: documents
        destination: documents_mixed
        group_column: lang         # domain key (language, source, ...)
        token_budget_ratio: 0.5    # fraction of total tokens to keep
        weights: {en: 3, zh: 1}    # optional; default uniform.  When
                                   # given, it must cover EVERY observed
                                   # group (weight 0 drops a group
                                   # explicitly) — a missing group is a
                                   # config error, not a silent drop
        temperature_alpha: 0.5     # alternative to weights: weight each
                                   # group tokens^alpha (temperature
                                   # sampling); alpha in {1.0, 0.5,
                                   # 0.25} — the integer-exact family
        max_docs_per_group: 10000  # optional hard per-group doc cap
                                   # applied after the budget solve
                                   # (seeded-hash winners, skew-proof
                                   # via WindowGroupLimit)

Each group g is downsampled to target ~= budget * w_g / sum(w) tokens:
pass 1 aggregates per-group token counts (tiny frame, broadcast);
pass 2 keeps rows whose content-hash per-mille bucket falls under the
solved rate — the q_token_budget_mix shape (oracle-verified) with
configurable weights.  All rate math is integer (per-mille, floor div)
and the keep decision is a deterministic md5 of the id, so the same
mix reproduces on any cluster and reruns are stable.  Rates cap at
1000 — groups are never upsampled; a group whose weight exceeds its
data keeps everything (the standard epochs-handled-elsewhere trade),
and a zero-token group keeps everything too (it costs no budget).

At 100 TB: pass 1 is a scan-aggregate, pass 2 a map-side filter — no
shuffle touches the documents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus


class MixtureTask(Task):
    kind = "mixture"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.group_column = c.get("group_column")
        if not self.group_column:
            raise ValueError(f"mixture task {self.name!r} needs group_column")
        self.ratio = float(c.get("token_budget_ratio", 0.5))
        if not (0.0 < self.ratio <= 1.0):
            raise ValueError(
                f"mixture task {self.name!r}: token_budget_ratio must be in (0, 1]"
            )
        self.weights = dict(c.get("weights", {}))
        for k, v in self.weights.items():
            if int(v) < 0:
                raise ValueError(f"mixture task {self.name!r}: weight {k} < 0")
        # temperature sampling (Lample & Conneau 2019): weight each
        # group tokens^alpha instead of a hand-written map.  Restricted
        # to the integer-exact family {1.0, 0.5, 0.25} — computed via
        # repeated exact isqrt, so the solve stays boundary-free
        # (q_mixture_temperature's oracle-verified arithmetic).
        self.temperature_alpha = c.get("temperature_alpha")
        if self.temperature_alpha is not None:
            if self.weights:
                raise ValueError(
                    f"mixture task {self.name!r}: weights and "
                    "temperature_alpha are mutually exclusive"
                )
            if float(self.temperature_alpha) not in (1.0, 0.5, 0.25):
                raise ValueError(
                    f"mixture task {self.name!r}: temperature_alpha must be "
                    "one of 1.0, 0.5, 0.25 (the integer-exact family; other "
                    "exponents would need float pow, which is not "
                    "reproducible across engines)"
                )
            self.temperature_alpha = float(self.temperature_alpha)
        # optional hard per-group document cap (RefinedWeb/C4 domain
        # frequency control), applied AFTER the token-budget solve:
        # survivors are the cap lowest seeded-hash docs per group —
        # reproducible winners, and the rank<=cap filter compiles to
        # WindowGroupLimit (partial below the shuffle), so the cap is
        # skew-proof (q_source_cap's oracle-verified shape)
        # allow_upsample: rates may exceed 1000 per-mille — rare groups
        # REPEAT (epoch column added; q_mixture_upsample's arithmetic)
        # instead of head groups being the only thing cut
        self.allow_upsample = bool(c.get("allow_upsample", False))
        self.max_docs_per_group = c.get("max_docs_per_group")
        if self.max_docs_per_group is not None:
            self.max_docs_per_group = int(self.max_docs_per_group)
            if self.max_docs_per_group < 1:
                raise ValueError(
                    f"mixture task {self.name!r}: max_docs_per_group must be >= 1"
                )
        if self.allow_upsample and self.max_docs_per_group is not None:
            raise ValueError(
                f"mixture task {self.name!r}: allow_upsample and "
                "max_docs_per_group are mutually exclusive (a cap under "
                "replication is ambiguous)"
            )
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        self.status = TaskStatus.READY

    def run(self) -> None:
        spark = self.context.spark
        df = spark.table(self.src_value)
        self.require_columns(df, [self.id_column, self.text_column, self.group_column])
        n_tokens = F.expr(
            f"size(filter(split(lower({self.text_column}), ' '), x -> x != ''))"
        )
        tok = df.select(
            F.col(self.id_column).alias("_id"),
            F.col(self.group_column).alias("_grp"),
            n_tokens.alias("_n"),
        )
        stats = tok.groupBy("_grp").agg(F.sum("_n").alias("_grp_tokens"))
        if self.weights:
            w_rows = [(k, int(v)) for k, v in self.weights.items()]
            wdf = spark.createDataFrame(w_rows, schema="_grp string, _w long")
            stats = stats.join(F.broadcast(wdf), "_grp", "left")
            # an explicit weights map must cover every observed group —
            # silently coalescing unlisted groups to 0 dropped their
            # rows entirely (ADVICE r5); the stats frame is tiny
            # (group cardinality), so the check is a scalar collect
            missing = [
                r["_grp"]
                for r in stats.where(F.col("_w").isNull())
                .select("_grp")
                .limit(20)
                .collect()
            ]
            if missing:
                raise ValueError(
                    f"mixture task {self.name!r}: weights does not cover "
                    f"observed group(s) {sorted(missing)!r}; list every "
                    "group (weight 0 to drop one explicitly) or omit "
                    "weights for uniform"
                )
        elif self.temperature_alpha is not None:
            from sayn_spark.functions.content_filter import isqrt_sql

            if self.temperature_alpha == 1.0:
                w_expr = "_grp_tokens"
            elif self.temperature_alpha == 0.5:
                w_expr = isqrt_sql("_grp_tokens")
            else:  # 0.25 = isqrt twice
                w_expr = isqrt_sql(isqrt_sql("_grp_tokens"))
            stats = stats.withColumn("_w", F.expr(w_expr))
        else:
            stats = stats.withColumn("_w", F.lit(1))
        # integer rate solve: budget in per-mille of total tokens split
        # by weight share; exact floor division keeps runs identical.
        # The products run in DECIMAL(38,0): a 100 TB corpus holds
        # ~10^13-10^14 tokens, and tot * budget_pm * w * 1000 blows past
        # int64 long before that — bigint math here would silently wrap.
        budget_pm = int(self.ratio * 1000)
        tot = stats.agg(
            F.sum("_grp_tokens").alias("_tot"), F.sum("_w").alias("_sumw")
        )
        # a zero-token group's rate divides by _grp_tokens = 0 -> NULL;
        # such a group costs no budget, so it keeps everything (1000).
        # a zero-WEIGHT group rates 0 BEFORE the division: weight 0 is
        # the documented explicit drop, and when EVERY group is zero-
        # weighted _sumw = 0 made the decimal division DIVIDE_BY_ZERO
        # under ANSI instead of dropping everything (review r13)
        cap = "" if self.allow_upsample else "least(1000, "
        cap_close = "" if self.allow_upsample else ")"
        rated = stats.join(F.broadcast(tot)).select(
            "_grp",
            F.when(F.col("_w") == 0, F.lit(0))
            .otherwise(
                F.coalesce(
                    F.expr(
                        f"cast({cap}floor("
                        f"floor(cast(_tot as decimal(38,0)) * {budget_pm} / 1000) "
                        "* _w * 1000 / (cast(_sumw as decimal(38,0)) * nullif(_grp_tokens, 0))"
                        f"){cap_close} as bigint)"
                    ),
                    F.lit(1000),
                )
            )
            .cast("bigint")
            .alias("_rate"),
        )
        bucket = F.expr(
            "cast(conv(substr(md5(cast(_id as string)), 1, 8), 16, 10) as bigint) % 1000"
        )
        if self.allow_upsample:
            # floor(rate/1000) full epochs per doc + one more iff the
            # content-hash bucket falls under the fractional per-mille
            # — materialised as a row-local explode, epoch column 1..n
            doc_bucket = F.expr(
                f"cast(conv(substr(md5(cast({self.id_column} as string)), 1, 8), "
                "16, 10) as bigint) % 1000"
            )
            out = (
                df.join(
                    F.broadcast(
                        rated.select(
                            F.col("_grp").alias(self.group_column), "_rate"
                        )
                    ),
                    self.group_column,
                )
                .withColumn(
                    "_n_copies",
                    F.expr("_rate div 1000")
                    + F.when(doc_bucket < F.col("_rate") % 1000, 1).otherwise(0),
                )
                .where(F.col("_n_copies") >= 1)
                .withColumn("epoch", F.explode(F.expr("sequence(1, _n_copies)")))
                .drop("_rate", "_n_copies")
            )
        else:
            kept_ids = (
                tok.withColumn("_bucket", bucket)
                .join(F.broadcast(rated), "_grp")
                .where(F.col("_bucket") < F.col("_rate"))
                .select(F.col("_id").alias(self.id_column))
            )
            out = df.join(kept_ids, self.id_column, "left_semi")
        if self.max_docs_per_group is not None:
            from pyspark.sql.window import Window

            hv = F.expr(
                "cast(conv(substr(md5(concat('cap|', cast("
                f"{self.id_column} as string))), 1, 15), 16, 10) as bigint)"
            )
            w = Window.partitionBy(self.group_column).orderBy(
                "_hv", self.id_column
            )
            out = (
                out.withColumn("_hv", hv)
                .withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= self.max_docs_per_group)
                .drop("_hv", "_rk")
            )
        self.write_destination(out)
