"""Training-data preparation operators: sliding-window document
chunking and context-length sequence packing — the steps that turn a
cleaned corpus (see queries/llm.py) into fixed-shape training samples.

Absent from the reference (hiveToMysql moves one table; HiveToMysql.java
has no text processing at all) — this module belongs to the
LLM-pipeline extension tier SURVEY.md §2.2 mandates.

Both operators are pure JVM expression pipelines (no Python in the
row path) and avoid the single-partition global sort that naive
implementations of packing use — see pack_sequences for the
two-level prefix-sum shape that scales to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table

CHUNK = 32  # tokens per chunk
STRIDE = 16  # chunk start spacing (CHUNK-STRIDE tokens of overlap)
CTX = 256  # packing context length (tokens per training sequence)


@register(
    "chunk_documents",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(0, CAST(LEN(toks) AS INT) - 1, {STRIDE}))
               AS start
      FROM d
    )
    SELECT doc_id,
           CAST(start // {STRIDE} AS INT) AS chunk_id,
           CAST(LEN(list_slice(toks, start + 1, start + {CHUNK})) AS INT)
             AS n_tokens,
           md5(array_to_string(list_slice(toks, start + 1, start + {CHUNK}), ' '))
             AS chunk_hash
    FROM s
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document yields overlapping
    {CHUNK}-token windows every {STRIDE} tokens (the standard
    stride-overlap scheme that preserves cross-boundary context).

    The token array is materialized in a named projection *before*
    the generator — the generator's input (a small integer sequence)
    doesn't reference it, so the array is computed once per document
    and carried through the explode, never re-split per chunk (the
    measured 40x trap documented in operators/dedup.py). Everything
    runs inside the scan stage: zero shuffles, chunks are emitted
    partition-local.
    """
    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    starts = proj.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(CHUNK))
    return starts.select(
        "doc_id",
        F.floor(F.col("start") / STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(LEN(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
               AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM d
    )
    SELECT CAST((cum - n) // {CTX} AS INT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY 1
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents are concatenated in doc_id order
    and each document is assigned to the {CTX}-token training bin its
    first token lands in (GPT-style stream packing; a bin's tokens
    may spill past {CTX} when a document crosses the boundary — the
    accounting here reports exactly that fill).

    The global running token count is NOT a single-partition window.
    It rides operators/ranks.grouped_row_number's running sum with no
    group columns: value-range buckets
    over doc_id (a CONSTANT 64 buckets at any scale), within-bucket
    cumsum, and an O(buckets) offsets frame broadcast back. The
    previous hand-rolled form bucketed by floor(doc_id/64) — an
    O(N/64) bucket count whose offsets frame grew linearly (the r10
    broadcast audit measured it 8 → 79 rows across one 10× step) and
    was itself cumsum'd by a global window: a data-sized serial frame
    in disguise at warehouse scale.
    """
    from hivetomysql_spark.operators.ranks import grouped_row_number

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        .cast("long")
        .alias("n"),
    )
    cum = grouped_row_number(d, [], "doc_id", out=None, sums={"cum": "n"})
    return (
        cum.groupBy(
            F.floor((F.col("cum") - F.col("n")) / CTX).cast("int").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
        )
    )
