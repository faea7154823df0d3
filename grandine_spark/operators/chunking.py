"""Training-data chunking and sequence packing.

Two operators every LLM pretraining pipeline runs between corpus hygiene
and the tokenizer sharder:

- ``chunk_documents`` — split each document into fixed-token-budget
  windows with a stride (overlap), the unit fed to tokenizers and
  near-dup/decontamination passes. Pure Catalyst: whitespace token
  array → ``sequence()`` of window starts → one ``explode``. Map-side
  only (NO shuffle); at 100 TB it scales with input splits.

- ``pack_chunks`` — assign chunks to fixed-capacity training sequences
  by the standard concat-and-slice rule (documents concatenated in a
  deterministic per-shard order, the token stream cut at multiples of
  ``seq_len``; a chunk belongs to the pack holding its first token).
  One hash-partitioned sort per shard (a single exchange), running-sum
  window for offsets. Shards are independent, so pack ids are
  (shard, pack) pairs and the window never needs a global ordering —
  the 100 TB shape is "one window per shard partition", not one big
  ORDER BY.

No reference counterpart (grandine is a geo engine); these belong to the
web-scale training-data family the build plan adds on top (SURVEY §6 /
BASELINE north rule's Common-Crawl-style corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_width

# default whitespace tokenizer shared with functions/text.py token counts
_WS = r"\s+"


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into whitespace-token windows of ``chunk_tokens``
    tokens, starting every ``stride`` tokens (default: no overlap).

    Output: (id_col, chunk_idx, n_tokens, chunk_text) — one row per
    window whose start lies inside the document; the final window may be
    short. Zero-token documents produce no rows.

    Plan shape: tokenize → ``sequence(0, n-1, stride)`` → ``explode`` →
    ``slice``/``array_join``. All native expressions inside
    WholeStageCodegen, no shuffle, no Python.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    step = chunk_tokens if stride is None else stride
    if step <= 0 or step > chunk_tokens:
        raise ValueError("stride must be in 1..chunk_tokens")
    toks = F.filter(F.split(F.col(text_col), _WS), lambda x: x != F.lit(""))
    d = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    d = d.filter(F.col("_n") > 0).select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step))
        ).alias("_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return d.select(
        F.col(id_col),
        (F.col("_start") / step).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_chunks(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_idx",
    tokens_col: str = "n_tokens",
    n_shards: int | None = None,
) -> DataFrame:
    """Assign chunks to fixed-``seq_len`` training sequences by the
    concat-and-slice rule: within a shard, chunks are concatenated in
    deterministic (id, chunk) order and the token stream is cut at
    multiples of ``seq_len``; a chunk belongs to the pack containing its
    FIRST token (packs may therefore run over by at most one chunk's
    tail, the standard pretraining tolerance when chunks are not split).

    Shard = md5(id) low bits mod ``n_shards`` — deterministic, join-free,
    and exactly reproducible in SQL (the same md5 convention as
    operators/sampling.py). Output: (shard, pack_id, id_col, chunk_col,
    tokens_col, pack_offset) where pack_offset is the chunk's first-token
    offset WITHIN its pack (= shard-stream offset mod seq_len).

    ``n_shards`` defaults to ``session.shuffle_width``: the packing window
    has exactly ``n_shards`` partitions, so a small fixed default would cap
    the stage at that many tasks regardless of cluster size — at 100 TB a
    literal 8 would mean 8 WindowExec sorts over ~12 TB each. Pass an
    explicit value only when the pack-id layout itself must be
    reproducible across sessions (shard assignment depends on it).

    Plan shape: ONE exchange (hash partition by shard) + a running-sum
    window per shard. No global sort; shards scale out with executors.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if n_shards is None:
        n_shards = shuffle_width(df.sparkSession)
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_shards
    )
    d = df.select(
        shard.alias("shard"),
        F.col(id_col),
        F.col(chunk_col),
        F.col(tokens_col),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return d.select(
        "shard",
        F.floor(cum / seq_len).alias("pack_id"),
        id_col,
        chunk_col,
        tokens_col,
        (cum % seq_len).cast("long").alias("pack_offset"),
    )
