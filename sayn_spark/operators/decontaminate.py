"""Decontaminate task: remove (or flag) training documents that
overlap a held-out evaluation set — the training-data hygiene step
every benchmark-respecting pipeline runs (the 13-gram rule popularised
by the GPT-3 appendix):

    tasks:
      clean_train:
        type: decontaminate
        source: train_docs
        eval_table: eval_docs
        destination: train_clean
        ngram: 13
        mode: drop            # drop | flag
        load_mode: full       # full | incremental (check + append only
                              # new ids vs the CURRENT eval table; an
                              # eval-set change needs a full rebuild)

A source document is contaminated when it shares at least one
``ngram``-token sequence with ANY eval document.  ``mode: drop``
removes those rows; ``mode: flag`` keeps every row and adds an
``is_contaminated`` boolean (for auditing before committing to the
drop).

``min_overlap_frac: 0.5`` switches the rule from any-single-gram to
the PaLM/GPT-4-style per-pair containment (q_decontaminate_overlap_frac's
engine): a source doc is contaminated only when at least that fraction
of ONE eval document's distinct n-grams appear in it — a stray idiom
shared with an eval question no longer drops the doc, a near-verbatim
paraphrase still does.  The decision is the integer comparison
``n_matched * 1_000_000 >= n_ev * ppm``, so no FP boundary exists.

``method: semantic`` switches to embedding-cosine screening
(q_decontaminate_semantic's engine): feature-hash TF vectors, a doc is
contaminated when its cosine with ANY eval document reaches
``min_cosine`` (default 0.95, hundredths grid — the verdict is the
exact integer cross-multiplication ``10000*dot^2 >= h^2*l2a*l2b``).
This catches the leak shapes exact n-grams cannot: reordered,
reformatted, or templated rewrites of eval items.  Run both methods at
scale — they are both map-side screens against a broadcast eval frame.

Scale shape: both sides reduce to 8-byte xxhash64 n-gram keys.  The
eval side (benchmarks — megabytes against a 100 TB corpus) is
explicitly broadcast, so the contamination check is a map-side
LEFT SEMI join: the corpus never shuffles, and the text columns never
leave their partitions.  Documents shorter than ``ngram`` tokens have
no n-grams and are never contaminated.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.functions.content_filter import contaminated_ids_frame
from sayn_spark.operators.base import Task, TaskStatus

class DecontaminateTask(Task):
    kind = "decontaminate"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("eval_table", "eval_value")
        self.declare_table("destination", "dst_value", output=True)
        self.mode = c.get("mode", "drop")
        if self.mode not in ("drop", "flag"):
            raise ValueError(f"decontaminate task {self.name!r}: mode must be drop|flag")
        # method: ngram (default — exact-sequence overlap) | semantic
        # (feature-hash cosine, q_decontaminate_semantic's engine — the
        # screen for reworded/reordered eval leaks that share no exact
        # n-gram).  Run BOTH at scale; they catch disjoint leak shapes.
        self.method = c.get("method", "ngram")
        if self.method not in ("ngram", "semantic"):
            raise ValueError(
                f"decontaminate task {self.name!r}: method must be ngram|semantic"
            )
        self.ngram = int(c.get("ngram", 13))
        if self.ngram < 1:
            raise ValueError(f"decontaminate task {self.name!r}: ngram must be >= 1")
        # min_cosine: the semantic threshold, on a hundredths grid so
        # the verdict stays an exact integer cross-multiplication
        cos = c.get("min_cosine")
        if self.method == "semantic":
            cos = 0.95 if cos is None else float(cos)
            self.min_cosine_hundredths = round(cos * 100)
            if not 1 <= self.min_cosine_hundredths <= 100:
                raise ValueError(
                    f"decontaminate task {self.name!r}: min_cosine must be in "
                    "(0, 1]"
                )
            if abs(cos * 100 - self.min_cosine_hundredths) > 1e-9:
                raise ValueError(
                    f"decontaminate task {self.name!r}: min_cosine must sit on "
                    "the hundredths grid (integer cross-multiplication)"
                )
            if c.get("min_overlap_frac") is not None or c.get("ngram") is not None:
                raise ValueError(
                    f"decontaminate task {self.name!r}: ngram/min_overlap_frac "
                    "do not apply to method=semantic"
                )
        else:
            self.min_cosine_hundredths = None
            if cos is not None:
                raise ValueError(
                    f"decontaminate task {self.name!r}: min_cosine applies to "
                    "method=semantic only"
                )
        # min_overlap_frac: per-pair containment threshold (None = the
        # default any-single-gram rule).  Stored as integer ppm so the
        # drop decision is pure integer arithmetic.
        frac = c.get("min_overlap_frac")
        if frac is None:
            self.min_overlap_ppm = None
        else:
            frac = float(frac)
            if not 0.0 < frac <= 1.0:
                raise ValueError(
                    f"decontaminate task {self.name!r}: min_overlap_frac must be "
                    "in (0, 1]"
                )
            self.min_overlap_ppm = round(frac * 1_000_000)
        # load_mode: incremental checks + appends only new-id rows
        # against the CURRENT eval table (the stream twin's per-batch
        # semantics: rows admitted before an eval-table growth are not
        # re-checked — rebuild full after changing the eval set).
        # Named load_mode because ``mode`` already selects drop|flag.
        self.read_load_mode("load_mode")
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        self.eval_text_column = c.get("eval_text_column", self.text_column)
        self.status = TaskStatus.READY

    def run(self) -> None:
        spark = self.context.spark
        df = spark.table(self.src_value)
        ev = spark.table(self.eval_value)
        self.require_columns(df, [self.id_column, self.text_column], "source")
        self.require_columns(ev, [self.eval_text_column], "eval_table")
        # restrict BEFORE hashing: already-admitted docs never
        # re-shingle (the destination holds kept rows only, so the
        # anti-join also re-checks previously-DROPPED ids — cheap,
        # idempotent, and self-correcting if the eval set shrank)
        df = self.new_rows(df, self.id_column)
        if self.method == "semantic":
            from sayn_spark.functions.content_filter import semantic_contaminated_ids

            contaminated = semantic_contaminated_ids(
                df,
                ev,
                id_column=self.id_column,
                text_column=self.text_column,
                eval_text_column=self.eval_text_column,
                min_cosine_hundredths=self.min_cosine_hundredths,
            )
        else:
            contaminated = contaminated_ids_frame(
                df,
                ev,
                self.ngram,
                id_column=self.id_column,
                text_column=self.text_column,
                eval_text_column=self.eval_text_column,
                min_overlap_ppm=self.min_overlap_ppm,
            )
        if self.mode == "drop":
            out = df.join(contaminated, self.id_column, "left_anti")
        else:
            out = df.join(
                contaminated.withColumn("is_contaminated", F.lit(True)),
                self.id_column,
                "left",
            ).withColumn(
                "is_contaminated", F.coalesce("is_contaminated", F.lit(False))
            )
        self.write_destination(out)
