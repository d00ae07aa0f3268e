"""Chunk task: split long documents into overlapping context-window
chunks — the complement of ``pack`` (pack groups whole short docs into
windows; chunk SPLITS docs longer than one window), as a YAML task:

    tasks:
      chunk_corpus:
        type: chunk
        source: documents
        destination: corpus_chunks
        chunk_tokens: 2048
        stride: 1792             # overlap = chunk_tokens - stride
        min_tokens: 1            # drop empty docs
        mode: incremental        # chunk + append only new ids

Output: one row per chunk — (id, chunk_index, chunk_start, n_tokens,
chunk_text) plus any ``carry_columns`` copied from the source row.
Chunk starts come from an array-local sequence() explode, so each
document expands independently: at 100 TB this is a pure map-side
flatMap — no shuffle at all (the q_doc_chunking shape, which
oracle-pins the identical chunk text by checksum).

The final (possibly short) tail chunk is kept — chunking for training
usually keeps tails and lets packing/padding deal with them; filter on
``n_tokens`` downstream to drop them instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus


def chunk_frame(
    df: DataFrame,
    chunk_tokens: int = 2048,
    stride: int | None = None,
    min_tokens: int = 1,
    id_column: str = "doc_id",
    text_column: str = "text",
    carry_columns: tuple[str, ...] = (),
) -> DataFrame:
    """The chunk projection shared by the batch task and its streaming
    twin: tokenize, explode stride-spaced starts (a row-local
    flatMap — no shuffle), slice each window back to text.  One output
    row per chunk: (id, carry..., chunk_index, chunk_start, n_tokens,
    chunk_text)."""
    stride = chunk_tokens if stride is None else stride
    toks = F.expr(f"filter(split(lower({text_column}), ' '), x -> x != '')")
    work = (
        df.where(F.col(text_column).isNotNull())
        .withColumn("_toks", toks)
        .where(F.size("_toks") >= min_tokens)
    )
    exploded = work.select(
        F.col(id_column),
        *carry_columns,
        F.size("_toks").alias("_n"),
        F.col("_toks"),
        F.explode(F.expr(f"sequence(1, size(_toks), {stride})")).alias("chunk_start"),
    )
    return exploded.select(
        id_column,
        *carry_columns,
        ((F.col("chunk_start") - 1) / stride).cast("bigint").alias("chunk_index"),
        "chunk_start",
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("chunk_start") + 1).alias(
            "n_tokens"
        ),
        F.expr(f"array_join(slice(_toks, chunk_start, {chunk_tokens}), ' ')").alias(
            "chunk_text"
        ),
    )


def cdc_chunk_frame(
    df: DataFrame,
    divisor: int = 16,
    min_tokens: int = 1,
    id_column: str = "doc_id",
    text_column: str = "text",
    carry_columns: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking as a chunk-task projection
    (q_doc_cdc_chunks' boundary rule with chunk_start tracked in the
    fold): a chunk ends after any token whose md5-prefix hash is
    0 mod ``divisor``, so boundaries depend only on local content and
    an edit re-chunks one neighborhood instead of shifting every
    downstream window.  Same output contract as chunk_frame:
    (id, carry..., chunk_index, chunk_start, n_tokens, chunk_text).
    Row-local fold + one map-side explode — no shuffle at all."""
    toks = F.expr(f"filter(split(lower({text_column}), ' '), x -> x != '')")
    work = (
        df.where(F.col(text_column).isNotNull())
        .withColumn("_toks", toks)
        .where(F.size("_toks") >= min_tokens)
    )
    empty_t = "cast(array() as array<string>)"
    empty_c = "cast(array() as array<struct<chunk_start: int, t: array<string>>>)"
    fold = F.expr(
        f"aggregate(_toks, "
        f"named_struct('chunks', {empty_c}, 'cur', {empty_t}, "
        f"'cur_start', 1, 'pos', 0), "
        f"(acc, x) -> "
        f"case when cast(conv(substr(md5(x), 1, 8), 16, 10) as bigint) % {int(divisor)} = 0 "
        f"then named_struct("
        f"'chunks', array_append(acc.chunks, named_struct("
        f"'chunk_start', case when size(acc.cur) = 0 then acc.pos + 1 else acc.cur_start end, "
        f"'t', array_append(acc.cur, x))), "
        f"'cur', {empty_t}, 'cur_start', 1, 'pos', acc.pos + 1) "
        f"else named_struct("
        f"'chunks', acc.chunks, "
        f"'cur', array_append(acc.cur, x), "
        f"'cur_start', case when size(acc.cur) = 0 then acc.pos + 1 else acc.cur_start end, "
        f"'pos', acc.pos + 1) end, "
        f"acc -> case when size(acc.cur) > 0 "
        f"then array_append(acc.chunks, named_struct('chunk_start', acc.cur_start, 't', acc.cur)) "
        f"else acc.chunks end)"
    )
    return work.select(
        F.col(id_column),
        *carry_columns,
        F.posexplode(fold).alias("chunk_index", "c"),
    ).select(
        id_column,
        *carry_columns,
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        F.col("c.chunk_start").alias("chunk_start"),
        F.size("c.t").alias("n_tokens"),
        F.expr("array_join(c.t, ' ')").alias("chunk_text"),
    )


class ChunkTask(Task):
    kind = "chunk"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        # fixed: stride-spaced context windows (default).  cdc:
        # content-defined boundaries (q_doc_cdc_chunks) — edit-stable
        # chunking for chunk-level dedup; window params don't apply.
        self.method = c.get("method", "fixed")
        if self.method not in ("fixed", "cdc"):
            raise ValueError(f"chunk task {self.name!r}: method must be fixed|cdc")
        if self.method == "cdc":
            if "chunk_tokens" in c or "stride" in c:
                raise ValueError(
                    f"chunk task {self.name!r}: chunk_tokens/stride apply to "
                    "method fixed only — cdc sizes chunks via cdc_divisor"
                )
            self.cdc_divisor = int(c.get("cdc_divisor", 16))
            if self.cdc_divisor < 2:
                raise ValueError(
                    f"chunk task {self.name!r}: cdc_divisor must be >= 2"
                )
        self.chunk_tokens = int(c.get("chunk_tokens", 2048))
        if self.chunk_tokens < 1:
            raise ValueError(f"chunk task {self.name!r}: chunk_tokens must be >= 1")
        self.stride = int(c.get("stride", self.chunk_tokens))
        if not (1 <= self.stride <= self.chunk_tokens):
            raise ValueError(
                f"chunk task {self.name!r}: stride must be in [1, chunk_tokens]"
            )
        self.min_tokens = int(c.get("min_tokens", 1))
        # incremental: chunk only source rows whose id is not yet in
        # the destination and append — row-local (each doc chunks from
        # its own text alone), so per-batch decisions are idempotent
        self.read_load_mode()
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        self.carry_columns = list(c.get("carry_columns", []))
        self.status = TaskStatus.READY

    def run(self) -> None:
        df = self.context.spark.table(self.src_value)
        self.require_columns(df, [self.id_column, self.text_column, *self.carry_columns])
        # incremental: restrict to new ids BEFORE tokenize/explode —
        # Catalyst does not push a semi-join below Generate, so gating
        # after the explode would re-tokenize and re-explode the whole
        # source every run.
        df = self.new_rows(df, self.id_column)
        if self.method == "cdc":
            out = cdc_chunk_frame(
                df,
                divisor=self.cdc_divisor,
                min_tokens=self.min_tokens,
                id_column=self.id_column,
                text_column=self.text_column,
                carry_columns=tuple(self.carry_columns),
            )
        else:
            out = chunk_frame(
                df,
                chunk_tokens=self.chunk_tokens,
                stride=self.stride,
                min_tokens=self.min_tokens,
                id_column=self.id_column,
                text_column=self.text_column,
                carry_columns=tuple(self.carry_columns),
            )
        self.write_destination(out)
