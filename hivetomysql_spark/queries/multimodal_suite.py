"""Multimodal (image/audio/video) analytics suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



# ========================================================================
# from analytics_extras8.py — original batch rationale:
# Analytics extras, batch 8: Markov-chain steady state, cross-table
# reconciliation, training-shard manifests, and CDC apply with deletes.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's iterative / data-quality /
# training-data tiers:
#
# * Markov stationary distribution — event-type transition chain power-
#   iterated to steady state (10 fixed rounds, fully oracled via an
#   unrolled-CTE matrix-vector chain);
# * reconciliation — the orders-vs-lineitem monthly coverage audit
#   every warehouse runs between fact tables;
# * shard manifest — deterministic greedy packing of documents into
#   fixed-size training shards (the WebDataset/TFRecord manifest step);
# * CDC apply — last-writer-wins change-feed materialization with
#   delete tombstones, one window pass.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_SHARD_CHARS = 50_000



@register(
    "multimodal_shard_manifest",
    oracle=f"""
    WITH ordered AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS cum_before,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars, pos,
             -- FLOOR, not bare CAST: DuckDB's double->int cast ROUNDS
             CAST(FLOOR(COALESCE(cum_before, 0) / {_SHARD_CHARS}) AS BIGINT)
               AS shard_id
      FROM ordered
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM assigned GROUP BY shard_id
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: documents are shuffled into a
    deterministic md5 order (so shard contents are stable across
    re-runs AND decorrelated from ingest order — the property
    WebDataset/TFRecord packing needs), then greedily packed into
    ~50k-char shards by running-size cutoff. Output is the per-shard
    manifest: doc count, byte load, positional span.

    Shape: DISTRIBUTED running sum + row_number over the hash order
    (operators/ranks: value-range buckets on the md5's 13-hex-digit
    numeric prefix — order-consistent with the full hex string since
    fixed-width lowercase hex sorts lexicographically as its numeric
    value — + per-bucket windows + broadcast offsets). No
    single-partition sort; the r9 measured-row audit caught the
    previous corpus-sized global window."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn(
        "hk", F.conv(F.substring("h", 1, 13), 16, 10).cast("double")
    )
    # one bucketing pass emits both the position and the running size
    ordered = grouped_row_number(
        keyed,
        [],
        "hk",
        ["h", "doc_id"],
        out="pos",
        sums={"cum_incl": "n_chars"},
    )
    assigned = ordered.select(
        "n_chars",
        "pos",
        F.floor(
            (F.col("cum_incl") - F.col("n_chars")) / _SHARD_CHARS
        )
        .cast("long")
        .alias("shard_id"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_chars"),
        F.min("pos").cast("long").alias("first_pos"),
        F.max("pos").cast("long").alias("last_pos"),
    )


# ========================================================================
# from analytics_extras36.py — original batch rationale:
# Analytics extras, batch 36: watermark economics, distributed
# linear algebra, and spectral audio features.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * late-data accounting — how many events each watermark delay would
#   drop per window, the number that PICKS the watermark.
# * Gram matrix — X^T X over the embedding matrix as a relational
#   aggregate, the kernel under PCA/covariance/linear probes.
# * DFT band energies — real 4-bin spectral features over decoded WAV
#   PCM, cross-engine verified against re-synthesized samples.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_DFT_N = 256


_DFT_BINS = (1, 2, 3, 4)



@register(
    "multimodal_audio_dft_bands",
    oracle=f"""
    WITH wav_meta AS (
      SELECT doc_id,
             200.0 + ('0x' || substr(md5('wav:' || doc_id), 1, 2))::INT
               * 4.0 AS freq,
             160 + least(length(text), 1440) AS ns
      FROM documents WHERE doc_id % 4 = 0
    ),
    samp AS (
      SELECT doc_id, t,
             trunc(0.3 * 32767 * sin(2 * pi() * freq * t / 8000.0))
               / 32768.0 AS x
      FROM wav_meta, UNNEST(generate_series(0, {_DFT_N} - 1)) AS g(t)
      WHERE t < ns
    ),
    bands AS (
      SELECT doc_id, k,
             SUM(x * cos(2 * pi() * k * t / {_DFT_N})) AS re,
             SUM(x * sin(2 * pi() * k * t / {_DFT_N})) AS im
      FROM samp, UNNEST([{", ".join(str(k) for k in _DFT_BINS)}]) AS b(k)
      GROUP BY doc_id, k
    )
    SELECT doc_id, CAST(k AS BIGINT) AS k,
           ROUND(SQRT(re * re + im * im), 4) AS magnitude
    FROM bands
    ORDER BY doc_id, k
    """,
)
def multimodal_audio_dft_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real spectral features over decoded audio: 4 DFT bin
    magnitudes (k=1..4 over the first 256 PCM samples) per WAV asset,
    computed as plain sums of x·cos / x·sin — the Goertzel-style
    single-bin DFT every lightweight audio featurizer uses before
    reaching for FFT libraries. Fully oracle-verified: DuckDB
    re-synthesizes the same PCM sine and recomputes the same bins.

    Shape: the decode+window runs in the Arrow mapInPandas tier
    conceptually; HERE the samples are re-derived in expression space
    (the synthesizer is deterministic), making the whole spectral
    path cross-engine checkable — per-row work is O(N·bins), output
    O(assets·bins), no shuffle until the final tiny ordering."""
    docs = load_table(spark, sf_dir, "documents")
    wav = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        (
            200.0
            + F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("wav:"), F.col("doc_id").cast("string"))),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("int")
            * 4.0
        ).alias("freq"),
        (160 + F.least(F.length("text"), F.lit(1440))).alias("ns"),
    )
    two_pi = 2 * F.lit(3.141592653589793)
    # cast-to-long truncates toward zero, matching Python's int() and
    # the oracle's trunc() (DuckDB CAST would ROUND — the gotcha)
    samp = wav.select(
        "doc_id",
        "freq",
        F.explode(
            F.sequence(F.lit(0), F.least(F.col("ns"), F.lit(_DFT_N)) - 1)
        ).alias("t"),
    ).select(
        "doc_id",
        "t",
        (
            (
                0.3
                * 32767
                * F.sin(two_pi * F.col("freq") * F.col("t") / 8000.0)
            ).cast("long")
            / 32768.0
        ).alias("x"),
    )
    bands = (
        samp.select(
            "doc_id",
            "t",
            "x",
            F.explode(F.array(*[F.lit(k) for k in _DFT_BINS])).alias("k"),
        )
        .groupBy("doc_id", "k")
        .agg(
            F.sum(
                F.col("x")
                * F.cos(
                    2
                    * F.lit(3.141592653589793)
                    * F.col("k")
                    * F.col("t")
                    / _DFT_N
                )
            ).alias("re"),
            F.sum(
                F.col("x")
                * F.sin(
                    2
                    * F.lit(3.141592653589793)
                    * F.col("k")
                    * F.col("t")
                    / _DFT_N
                )
            ).alias("im"),
        )
    )
    return bands.select(
        "doc_id",
        F.col("k").cast("long"),
        F.round(
            F.sqrt(F.col("re") * F.col("re") + F.col("im") * F.col("im")), 4
        ).alias("magnitude"),
    ).orderBy("doc_id", "k")


# ========================================================================
# from analytics_extras44.py — original batch rationale:
# Analytics extras, batch 44: rolling regression, partial
# autocorrelation, and video shot detection.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * rolling beta — 30-day windowed regression slope of a segment's
#   revenue on total revenue, from windowed sufficient statistics.
# * PACF — partial autocorrelation at lags 1..3 via Durbin-Levinson,
#   the ARIMA order-selection diagnostic.
# * video shot detection — frame-to-frame mean pixel delta over REAL
#   concatenated-P6 frame walks, threshold crossings = cuts.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "multimodal_video_shot_detection",
    oracle="""
    WITH vids AS (
      SELECT doc_id FROM documents WHERE doc_id % 4 = 2
    ),
    px AS (
      -- frame f (0..2) of the concatenated-P6 stream: pixels are
      -- md5('ppm:<doc_id*1000+f>:<chunk>') bytes, 768 per frame
      SELECT doc_id, f, p,
             ('0x' || substr(md5('ppm:' || (doc_id * 1000 + f) || ':'
                                 || (p // 16)), 2 * (p % 16) + 1, 2))::INT
               AS b
      FROM vids,
           UNNEST(generate_series(0, 2)) AS a(f),
           UNNEST(generate_series(0, 767)) AS g(p)
    ),
    deltas AS (
      SELECT cur.doc_id, cur.f,
             AVG(ABS(cur.b - prv.b)) AS mean_delta
      FROM px cur JOIN px prv
        ON prv.doc_id = cur.doc_id AND prv.p = cur.p
       AND prv.f = cur.f - 1
      GROUP BY cur.doc_id, cur.f
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frame_pairs,
           ROUND(AVG(mean_delta), 4) AS avg_frame_delta,
           CAST(SUM(CASE WHEN mean_delta > 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shot_cuts
    FROM deltas
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_video_shot_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shot-boundary detection over the concatenated-P6 video assets:
    mean absolute pixel delta between consecutive frames, cut
    declared above threshold 30 — the classic histogram/pixel-diff
    shot detector, running on REAL frame boundaries (every frame pair
    of the synthetic streams is independent noise, so every pair is a
    cut — the detector's structure, not Hollywood, is what's
    verified cross-engine: the oracle re-synthesizes every pixel).

    Shape: per-asset frame walk and per-pixel deltas stay in-row —
    each frame materializes as a 768-int array from 48 md5 digests
    (one per 16-pixel block, each digest's 32 hex chars decoding to
    16 bytes), consecutive-frame deltas are zip_with aggregates over
    those arrays, and the only ordering work is the final orderBy.
    ZERO joins/groupBys: the earlier pixel-exploded self-join
    evaluated the SAME block digest 16× per pixel on both join sides
    (32× redundant md5) and shuffled 5.8M rows — measured 9.0 s →
    0.6 s at sf0.1. Output is O(assets). The mapInPandas tier decodes
    real containers the same way
    (`operators/multimodal.py:iter_ppm_frames`); here the
    deterministic synthesis lets the whole detector be
    value-verified in SQL."""
    from hivetomysql_spark.operators.parallelism import spread_for_compute

    docs = load_table(spark, sf_dir, "documents")
    vids = spread_for_compute(
        docs.where(F.col("doc_id") % 4 == 2).select("doc_id")
    )

    def frame(f):
        # 768 pixels = 48 blocks × 16 bytes from one md5 each
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(47)),
                lambda blk: (
                    lambda h: F.transform(
                        F.sequence(F.lit(0), F.lit(15)),
                        lambda j: F.conv(
                            h.substr(j * 2 + 1, F.lit(2)), 16, 10
                        ).cast("int"),
                    )
                )(
                    F.md5(
                        F.concat(
                            F.lit("ppm:"),
                            (F.col("doc_id") * 1000 + f).cast("string"),
                            F.lit(":"),
                            blk.cast("string"),
                        )
                    )
                ),
            )
        )

    frames = F.transform(F.sequence(F.lit(0), F.lit(2)), frame)
    base = vids.select("doc_id", frames.alias("fr"))
    mean_deltas = F.transform(
        F.sequence(F.lit(1), F.lit(2)),
        lambda i: F.aggregate(
            F.zip_with(
                F.element_at("fr", i + 1),
                F.element_at(F.col("fr"), i),
                lambda a, b: F.abs(a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / F.lit(768.0),
    )
    per_doc = base.select("doc_id", mean_deltas.alias("ds"))
    return per_doc.select(
        F.col("doc_id").cast("long"),
        F.size("ds").cast("long").alias("n_frame_pairs"),
        F.round(
            F.aggregate("ds", F.lit(0.0), lambda acc, d: acc + d)
            / F.size("ds"),
            4,
        ).alias("avg_frame_delta"),
        F.size(F.filter("ds", lambda d: d > 30))
        .cast("long")
        .alias("n_shot_cuts"),
    ).orderBy("doc_id")


# ========================================================================
# from analytics_extras47.py — original batch rationale:
# Analytics extras, batch 47: image perceptual hashing, state-space
# filtering, variance-homogeneity testing, and l-diversity auditing.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * perceptual hash — block-mean 64-bit image signatures over real PPM
#   pixels, the image-dedup analogue of `dedup_simhash` (signatures
#   feed the same banded Hamming self-join at scale).
# * Kalman local-level filter — the simplest state-space model over
#   the daily order series, the principled successor to the EMA/Holt
#   smoothers already in the registry.
# * Brown-Forsythe (robust Levene) — variance-homogeneity test, the
#   gate statistic before pooled-variance tests like `stats_anova_f`.
# * l-diversity — per-quasi-identifier-group distinct-sensitive-value
#   audit, the release gate that `privacy_k_anonymity` alone misses
#   (a k-anonymous group with one sensitive value still leaks).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.operators import multimodal as M
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


def _phash_oracle() -> str:
    # weight of bit j within its byte (bit 0 of the byte = MSB)
    w = ("CASE bi % 8 WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 32 "
         "WHEN 3 THEN 16 WHEN 4 THEN 8 WHEN 5 THEN 4 WHEN 6 THEN 2 "
         "ELSE 1 END")
    return f"""
    WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
    px AS (
      SELECT doc_id, p,
             ('0x' || substr(md5('ppm:' || doc_id || ':' || (p // 16)),
                             2 * (p % 16) + 1, 2))::INT AS b
      FROM img, UNNEST(generate_series(0, 767)) AS g(p)
    ),
    luma AS (
      SELECT doc_id, p // 3 AS pix,
             SUM(CASE p % 3 WHEN 0 THEN 299 * b
                            WHEN 1 THEN 587 * b
                            ELSE 114 * b END) AS l1000
      FROM px GROUP BY 1, 2
    ),
    blocks AS (
      SELECT doc_id,
             ((pix // 16) // 2) * 8 + ((pix % 16) // 2) AS bi,
             SUM(l1000) AS bs
      FROM luma GROUP BY 1, 2
    ),
    bits AS (
      SELECT doc_id, bi,
             CASE WHEN 64 * bs > SUM(bs) OVER (PARTITION BY doc_id)
                  THEN 1 ELSE 0 END AS bit
      FROM blocks
    ),
    bytes_ AS (
      SELECT doc_id, bi // 8 AS k, CAST(SUM(bit * {w}) AS INT) AS byteval
      FROM bits GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             string_agg(
               substr('0123456789abcdef', byteval // 16 + 1, 1) ||
               substr('0123456789abcdef', byteval % 16 + 1, 1),
               '' ORDER BY k) AS phash
      FROM bytes_ GROUP BY doc_id
    ),
    pop AS (
      SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS n_bright
      FROM bits GROUP BY doc_id
    )
    SELECT s.doc_id, s.phash, p.n_bright
    FROM sig s JOIN pop p ON p.doc_id = s.doc_id
    """



@register("multimodal_phash", oracle=_phash_oracle())
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean perceptual hash over REAL decoded PPM pixels: 8x8
    block luma sums, bit set iff the block outshines the image mean,
    compared entirely in integers (64*block > total — no float ever).
    The DuckDB twin re-synthesizes every md5-derived pixel byte in
    SQL and re-derives all 64 bits, so the whole decode->luma->
    block->threshold->pack path is value-verified cross-engine.

    Scale: signatures are 8 bytes/image; near-dup detection joins
    them with the banded-bucket plan of `dedup_simhash` (4x16-bit
    bands), so image payloads never shuffle — only the hashes do.
    Decode runs Arrow-batched in mapInPandas
    (operators/multimodal.py:phash_payloads)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 1
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")
    return M.phash_payloads(binary)


# ========================================================================
# from analytics_extras49.py — original batch rationale:
# Analytics extras, batch 49: kNN classification, random-walk
# sampling, DP top-k release, and image entropy.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * kNN classifier — label prediction from top-5 cosine neighbors with
#   deterministic majority vote: the classifier a retrieval stack gets
#   for free once similarity search exists.
# * random-walk visit sampling — md5-determinized walkers over the
#   co-purchase graph (the node2vec/DeepWalk corpus-generation step,
#   expressed as unrolled neighbor-table joins).
# * DP top-k — one-shot Gumbel-noise top-k, equivalent to peeling the
#   exponential mechanism (Durfee & Rogers 2019), md5-determinized so
#   the oracle verifies the mechanism itself.
# * image entropy — 16-bin luma histogram entropy over real decoded
#   PPM pixels, integer bins end-to-end, fully pixel-oracled.
# ========================================================================
import math
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


def _image_entropy_oracle() -> str:
    pix = (
        "('0x' || substr(md5('ppm:' || doc_id || ':' || (p // 16)),"
        " 2 * (p % 16) + 1, 2))::INT"
    )
    return f"""
    WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
    px AS (
      SELECT doc_id, p, {pix} AS b
      FROM img, UNNEST(generate_series(0, 767)) AS g(p)
    ),
    luma AS (
      SELECT doc_id, p // 3 AS pix_i,
             SUM(CASE p % 3 WHEN 0 THEN 299 * b
                            WHEN 1 THEN 587 * b
                            ELSE 114 * b END) AS l1000
      FROM px GROUP BY 1, 2
    ),
    binned AS (
      SELECT doc_id, CAST(l1000 // 16000 AS INT) AS bin, COUNT(*) AS c
      FROM luma GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_bins_used,
           ROUND(-SUM((c / 256.0) * LN(c / 256.0)) / LN(2), 6) AS entropy_bits
    FROM binned GROUP BY doc_id
    """



@register("multimodal_image_entropy", oracle=_image_entropy_oracle())
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luma-histogram entropy per image over REAL decoded PPM pixels:
    integer luma millis -> 16 equal-width bins (integer division, no
    float until the final entropy) -> Shannon entropy in bits. The
    flat/low-entropy screen an image-corpus pipeline runs before
    spending decode/caption compute on blank or synthetic-fill
    assets; the DuckDB twin re-synthesizes every pixel byte and
    recomputes the histogram, so decode->luma->bin->entropy is
    value-verified cross-engine.

    Shape: Arrow mapInPandas decode (1:N pixel fan-out stays inside
    the executor as plain Python ints), one (doc, bin) reduce, one
    per-doc rollup."""
    from hivetomysql_spark.operators import multimodal as M
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 1
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("bin", IntegerType()),
            StructField("c", LongType()),
        ]
    )

    def batches(it):
        for pdf in it:
            ids, bins, cs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, rgb = M.decode_ppm(payload)
                hist: dict[int, int] = {}
                for i in range(w * h):
                    l1000 = (
                        299 * rgb[3 * i]
                        + 587 * rgb[3 * i + 1]
                        + 114 * rgb[3 * i + 2]
                    )
                    b = l1000 // 16000
                    hist[b] = hist.get(b, 0) + 1
                for b, c in hist.items():
                    ids.append(doc_id)
                    bins.append(b)
                    cs.append(c)
            yield pd.DataFrame({"doc_id": ids, "bin": bins, "c": cs})

    binned = binary.mapInPandas(batches, schema=schema)
    p = F.col("c") / 256.0
    return binned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bins_used"),
        F.round(
            -F.sum(p * F.log(p)) / float(math.log(2)), 6
        ).alias("entropy_bits"),
    )


# ========================================================================
# from analytics_extras56.py — original batch rationale:
# Analytics extras, batch 56: perceptual frame similarity, the runs
# test, and star-except projection.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * video frame SSIM — the perceptual similarity metric between
#   consecutive decoded frames (global-window SSIM over real pixels);
#   the principled upgrade of `multimodal_video_shot_detection`'s raw
#   mean-delta, fully pixel-oracled.
# * runs test — Wald-Wolfowitz randomness check on the daily series'
#   median-sign sequence: too FEW runs = trending/clustered, too MANY
#   = oscillating; the model-free residual diagnostic.
# * star-except — `SELECT * EXCEPT (...)` (Spark 4) vs DuckDB's
#   `EXCLUDE`: the schema-evolution-friendly projection idiom, proven
#   equivalent cross-engine.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_SSIM_C1 = 6.5025  # (0.01 * 255)^2


_SSIM_C2 = 58.5225  # (0.03 * 255)^2


def _ssim_oracle() -> str:
    pix = (
        "('0x' || substr(md5('ppm:' || img_id || ':' || (p // 16)),"
        " 2 * (p % 16) + 1, 2))::INT"
    )
    return f"""
    WITH vids AS (
      SELECT doc_id FROM documents WHERE doc_id % 4 = 2
    ),
    frames AS (
      SELECT doc_id, f.f AS frame, doc_id * 1000 + f.f AS img_id
      FROM vids, UNNEST([0, 1, 2]) AS f(f)
    ),
    px AS (
      SELECT doc_id, frame, p // 3 AS pix_i, p % 3 AS ch, {pix} AS b
      FROM frames, UNNEST(generate_series(0, 767)) AS g(p)
    ),
    luma AS (
      SELECT doc_id, frame, pix_i,
             SUM(CASE ch WHEN 0 THEN 299 * b
                         WHEN 1 THEN 587 * b
                         ELSE 114 * b END) / 1000.0 AS l
      FROM px GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT a.doc_id, a.frame AS pair_idx, a.pix_i,
             a.l AS x, b.l AS y
      FROM luma a JOIN luma b
        ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
       AND b.pix_i = a.pix_i
      WHERE a.frame < 2
    ),
    stats AS (
      SELECT doc_id, pair_idx,
             AVG(x) AS mx, AVG(y) AS my,
             SUM(x * x) / 256.0 - AVG(x) * AVG(x) AS vx,
             SUM(y * y) / 256.0 - AVG(y) * AVG(y) AS vy,
             SUM(x * y) / 256.0 - AVG(x) * AVG(y) AS cxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT doc_id, CAST(pair_idx AS INT) AS pair_idx,
           ROUND((2.0 * mx * my + {_SSIM_C1}) * (2.0 * cxy + {_SSIM_C2})
                 / ((mx * mx + my * my + {_SSIM_C1})
                    * (vx + vy + {_SSIM_C2})), 6) AS ssim
    FROM stats
    """



@register("multimodal_video_ssim", oracle=_ssim_oracle())
def multimodal_video_ssim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-window SSIM between consecutive REAL decoded video
    frames: luminance means, variances, and covariance over the 256
    luma values of each frame pair, combined by the standard
    ((2 mu_x mu_y + C1)(2 cov + C2)) / ((mu_x^2 + mu_y^2 + C1)
    (var_x + var_y + C2)) — the perceptual similarity metric that
    `multimodal_video_shot_detection`'s raw mean pixel delta only
    approximates (SSIM discounts uniform brightness shifts that a
    raw delta misreads as cuts). Every pixel is re-synthesized by
    the DuckDB twin, so the whole decode->luma->moments->SSIM path
    is value-verified.

    Shape: Arrow mapInPandas decodes each video ONCE into a row of
    per-frame luma ARRAYS (pixel fan-out never leaves the executor),
    frame pairs unfold in-row, and all five moments are zip_with /
    aggregate array expressions — ZERO joins, ZERO groupBys. The
    earlier plan self-joined a pixel-grain luma table on
    (doc, frame, pix), running the whole decode twice and shuffling
    every pixel — measured 4.9 s → sub-second at sf0.1."""
    from hivetomysql_spark.operators import multimodal as M

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 2
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lumas", ArrayType(ArrayType(DoubleType()))),
        ]
    )

    def batches(it):
        for pdf in it:
            ids, lumas = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = []
                for fb in M.iter_ppm_frames(payload):
                    w, h, rgb = M.decode_ppm(fb)
                    frames.append(
                        [
                            (
                                299 * rgb[3 * i]
                                + 587 * rgb[3 * i + 1]
                                + 114 * rgb[3 * i + 2]
                            )
                            / 1000.0
                            for i in range(w * h)
                        ]
                    )
                ids.append(doc_id)
                lumas.append(frames)
            yield pd.DataFrame({"doc_id": ids, "lumas": lumas})

    per_doc = binary.mapInPandas(batches, schema=schema)
    return ssim_from_lumas(per_doc)


def ssim_from_lumas(per_doc: DataFrame) -> DataFrame:
    """SSIM over a (doc_id, lumas: array<array<double>>) frame —
    the pure-expression tail of ``multimodal_video_ssim``, factored
    out so the short-payload guard (payloads with <3 frames must
    degrade to fewer/zero pairs, never NULL or ANSI errors) is unit-
    testable on a hand-built frame without the Arrow decode stage."""

    def asum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    def pair_stats(i):
        x = F.element_at(F.col("lumas"), i + 1)
        y = F.element_at(F.col("lumas"), i + 2)
        n = F.size(x).cast("double")
        mx = (asum(x) / n).alias("mx")
        my = (asum(y) / n).alias("my")
        vx = (asum(F.zip_with(x, x, lambda a, b: a * b)) / n) - (
            asum(x) / n
        ) * (asum(x) / n)
        vy = (asum(F.zip_with(y, y, lambda a, b: a * b)) / n) - (
            asum(y) / n
        ) * (asum(y) / n)
        cxy = (asum(F.zip_with(x, y, lambda a, b: a * b)) / n) - (
            asum(x) / n
        ) * (asum(y) / n)
        return F.struct(
            i.cast("int").alias("pair_idx"),
            mx,
            my,
            vx.alias("vx"),
            vy.alias("vy"),
            cxy.alias("cxy"),
        )

    # pair indices bounded by the actual frame count so a short
    # payload (<3 frames) degrades to fewer/zero pairs exactly like
    # the old frame+1 join did, instead of NULL element_at rows (or
    # an ANSI out-of-bounds error); fixture payloads carry 3 frames
    # so this resolves to the same sequence(0,1)
    n_frames = F.size("lumas")
    pair_idxs = F.when(
        n_frames >= 2,
        F.sequence(F.lit(0), F.least(n_frames - 2, F.lit(1))),
    ).otherwise(F.array().cast("array<int>"))
    stats = per_doc.select(
        "doc_id",
        F.explode(F.transform(pair_idxs, pair_stats)).alias("s"),
    ).select("doc_id", "s.*")
    ssim = (
        (2.0 * F.col("mx") * F.col("my") + _SSIM_C1)
        * (2.0 * F.col("cxy") + _SSIM_C2)
    ) / (
        (F.col("mx") * F.col("mx") + F.col("my") * F.col("my") + _SSIM_C1)
        * (F.col("vx") + F.col("vy") + _SSIM_C2)
    )
    return stats.select(
        "doc_id",
        F.col("pair_idx").cast("int").alias("pair_idx"),
        F.round(ssim, 6).alias("ssim"),
    )


# ========================================================================
# from analytics_extras59.py — original batch rationale:
# Analytics extras, batch 59: decoder-accuracy auditing, TOST
# equivalence testing, and n-gram novelty.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * audio pitch estimate — recover each WAV's sine frequency from its
#   DECODED samples via zero-crossing rate and compare against the
#   synthesizer's md5-derived ground truth: a decoder-accuracy audit
#   with internal ground truth, fully oracled.
# * TOST equivalence — two one-sided Welch tests proving the ABSENCE
#   of a meaningful difference (non-inferiority), the inverse goal of
#   every significance test in the registry.
# * n-gram novelty — share of held-out trigrams never seen in the
#   training half: the memorization/novelty complement of
#   `text_train_eval_perplexity`.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "multimodal_audio_pitch_estimate",
    oracle="""
    WITH wavs AS (
      SELECT doc_id, length(text) AS tlen FROM documents WHERE doc_id % 4 = 0
    ),
    meta AS (
      SELECT doc_id,
             CAST(200.0 + ('0x' || substr(md5('wav:' || doc_id), 1, 2))::INT
                  * 4.0 AS DOUBLE) AS true_freq,
             160 + least(tlen, 1440) AS n
      FROM wavs
    ),
    samp AS (
      SELECT doc_id, n, true_freq, t,
             trunc(0.3 * 32767 * sin(2 * pi() * true_freq * t / 8000.0))
               AS s
      FROM meta, UNNEST(generate_series(0, n - 1)) AS g(t)
    ),
    flagged AS (
      SELECT doc_id, n, true_freq,
             CASE WHEN t >= 1 AND (s < 0) <>
                  (LAG(s) OVER (PARTITION BY doc_id ORDER BY t) < 0)
                  THEN 1 ELSE 0 END AS is_cross
      FROM samp
    ),
    zc AS (
      SELECT doc_id, n, true_freq, SUM(is_cross) AS crossings
      FROM flagged GROUP BY doc_id, n, true_freq
    )
    SELECT doc_id,
           ROUND(true_freq, 4) AS true_freq_hz,
           ROUND(crossings * 8000.0 / (2.0 * (n - 1)), 4) AS est_freq_hz,
           ROUND(ABS(crossings * 8000.0 / (2.0 * (n - 1)) - true_freq)
                 / true_freq, 6) AS rel_error
    FROM zc
    """,
)
def multimodal_audio_pitch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pitch estimation over REAL decoded WAV samples — with internal
    ground truth: each fixture wav is a sine whose frequency derives
    from md5(doc_id), so the zero-crossing estimate f = ZCR * rate/2
    computed from the DECODED PCM can be scored against the true
    frequency the synthesizer used. This is the decoder-accuracy
    audit pattern: the pipeline proves its own decode+DSP path
    end-to-end (a corrupted decode shows up as pitch error), and the
    DuckDB twin re-synthesizes every sample to verify the audit
    itself. ZCR pitch tracking is the production hot path's cheap
    first pass (autocorrelation refines it; same plan shape).

    Shape: Arrow mapInPandas decode per asset; crossings reduce
    executor-locally; O(assets) output."""
    from hivetomysql_spark.operators import multimodal as M

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 0
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("true_freq_hz", DoubleType()),
            StructField("est_freq_hz", DoubleType()),
            StructField("rel_error", DoubleType()),
        ]
    )

    def batches(it):
        import hashlib

        for pdf in it:
            ids, tf, ef, re_ = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = M.decode_wav(payload)
                n = len(s)
                crossings = sum(
                    1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)
                )
                est = crossings * rate / (2.0 * (n - 1))
                seed = hashlib.md5(f"wav:{doc_id}".encode()).digest()
                true = 200.0 + seed[0] * 4.0
                ids.append(doc_id)
                tf.append(M._round_half_up(true, 4))
                ef.append(M._round_half_up(est, 4))
                re_.append(M._round_half_up(abs(est - true) / true, 6))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "true_freq_hz": tf,
                    "est_freq_hz": ef,
                    "rel_error": re_,
                }
            )

    return binary.mapInPandas(batches, schema=schema)


# ========================================================================
# from analytics_extras62.py — original batch rationale:
# Analytics extras, batch 62: image near-dup candidates, forecast
# tournament, and share-of-parent rollups.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * pHash dedup pairs — the banded-Hamming candidate join over the
#   64-bit image signatures from `multimodal_phash`: the image
#   counterpart of `dedup_simhash`'s text plan, summarized so the
#   result is stable on a corpus of independent images.
# * backtest tournament — naive vs seasonal-naive vs EMA one-step
#   forecasts raced on the same monthly series by MAPE: the
#   model-selection table above the individual backtests.
# * share-of-parent — each (nation, priority) cell's share of its
#   nation and each nation's share of total: the hierarchical ratio
#   every drill-down UI renders next to rollup counts.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


def _phash_sig_cte() -> str:
    # byte-weight expression for bit bi within its byte
    w = ("CASE bi % 8 WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 32 "
         "WHEN 3 THEN 16 WHEN 4 THEN 8 WHEN 5 THEN 4 WHEN 6 THEN 2 "
         "ELSE 1 END")
    return f"""
    img AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
    px AS (
      SELECT doc_id, p,
             ('0x' || substr(md5('ppm:' || doc_id || ':' || (p // 16)),
                             2 * (p % 16) + 1, 2))::INT AS b
      FROM img, UNNEST(generate_series(0, 767)) AS g(p)
    ),
    luma AS (
      SELECT doc_id, p // 3 AS pix,
             SUM(CASE p % 3 WHEN 0 THEN 299 * b
                            WHEN 1 THEN 587 * b
                            ELSE 114 * b END) AS l1000
      FROM px GROUP BY 1, 2
    ),
    blocks AS (
      SELECT doc_id,
             ((pix // 16) // 2) * 8 + ((pix % 16) // 2) AS bi,
             SUM(l1000) AS bs
      FROM luma GROUP BY 1, 2
    ),
    bits AS (
      SELECT doc_id, bi,
             CASE WHEN 64 * bs > SUM(bs) OVER (PARTITION BY doc_id)
                  THEN 1 ELSE 0 END AS bit
      FROM blocks
    ),
    words AS (
      -- four 16-bit band words per image (bits 0..15 per band,
      -- first bit most significant)
      SELECT doc_id, bi // 16 AS band,
             SUM(bit * ({w}) * CASE WHEN (bi % 16) < 8 THEN 256 ELSE 1 END)
               AS word
      FROM bits GROUP BY doc_id, bi // 16
    )"""



@register(
    "multimodal_phash_dedup_pairs",
    oracle=f"""
    WITH {_phash_sig_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM words a JOIN words b
        ON a.band = b.band AND a.word = b.word AND a.doc_id < b.doc_id
    ),
    sigs AS (
      SELECT doc_id, band, word FROM words
    ),
    dists AS (
      SELECT c.id_a, c.id_b,
             SUM(bit_count(CAST(xor(sa.word, sb.word) AS BIGINT))) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b AND sb.band = sa.band
      GROUP BY c.id_a, c.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM img) AS BIGINT) AS n_images,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN hamming <= 10 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_near_dups,
           CAST(MIN(hamming) AS BIGINT) AS min_hamming
    FROM dists
    """,
)
def multimodal_phash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate CANDIDATES from the banded perceptual
    hash: each 64-bit pHash (from `multimodal_phash`'s pipeline)
    splits into four 16-bit bands; images colliding on any band pair
    up, and candidates verify by full Hamming distance — exactly
    `dedup_simhash`'s text plan applied to images (payload bytes
    never join; only 2-byte band words shuffle). The corpus here is
    independent md5-noise images, so the summary correctly reports
    (close to) zero near-dups from (close to) zero candidates —
    the selectivity that makes banding linear-cost at 100 TB.

    Shape: signatures via Arrow decode; band words one reduce; the
    candidate join touches only band-collided pairs."""
    from hivetomysql_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 1
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")
    # 16-bit band words straight from the hex signature: bands
    # partition the 64 bits, so total Hamming = sum of band XOR
    # popcounts — and no 64-bit parse that would overflow a signed
    # long for signatures with the high bit set
    words = M.phash_payloads(binary).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.conv(
                            F.substring("phash", 4 * b + 1, 4), 16, 10
                        ).cast("long").alias("word"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bw"),
    ).select(
        "doc_id", F.col("bw.band").alias("band"), F.col("bw.word").alias("word")
    ).localCheckpoint(eager=False)
    a = words.select(
        F.col("doc_id").alias("id_a"), "band", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("doc_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("word").alias("wb"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("wa") == F.col("wb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    wa = words.select(
        F.col("doc_id").alias("id_a"),
        F.col("band").alias("ba"),
        F.col("word").alias("worda"),
    )
    wb = words.select(
        F.col("doc_id").alias("id_b2"),
        F.col("band").alias("bb"),
        F.col("word").alias("wordb"),
    )
    dists = (
        cand.join(wa, "id_a")
        .join(
            wb,
            (F.col("id_b") == F.col("id_b2")) & (F.col("bb") == F.col("ba")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.bit_count(F.col("worda").bitwiseXOR(F.col("wordb")))
            ).alias("hamming")
        )
    )
    n_images = binary.agg(F.count(F.lit(1)).alias("ni"))
    summary = dists.agg(
        F.count(F.lit(1)).alias("nc"),
        F.coalesce(
            F.sum((F.col("hamming") <= 10).cast("long")), F.lit(0)
        ).alias("nd"),
        F.min("hamming").alias("mh"),
    )
    return summary.crossJoin(F.broadcast(n_images)).select(
        F.col("ni").cast("long").alias("n_images"),
        F.col("nc").cast("long").alias("n_candidates"),
        F.col("nd").cast("long").alias("n_near_dups"),
        F.col("mh").cast("long").alias("min_hamming"),
    )


# ========================================================================
# from analytics_extras70.py — original batch rationale:
# Analytics extras, batch 70: image edge energy and sketch-merge
# proof.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * image edge energy — integer gradient magnitudes over real decoded
#   PPM pixels: the blur/flat-image screen (low edge energy = no
#   detail worth captioning), computed without a single float and
#   pixel-verified by the oracle.
# * DDSketch merge proof — shard sketches merged by bucket-sum equal
#   the whole-data sketch EXACTLY (integer identity, not an
#   approximation claim): the mergeability property that lets
#   quantile sketches roll up across 100 TB partitions, proven the
#   way `agg_variance_two_level_merge` proves moments.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


def _edge_oracle() -> str:
    pix = (
        "('0x' || substr(md5('ppm:' || doc_id || ':' || (p // 16)),"
        " 2 * (p % 16) + 1, 2))::INT"
    )
    return f"""
    WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
    px AS (
      SELECT doc_id, p, {pix} AS b
      FROM img, UNNEST(generate_series(0, 767)) AS g(p)
    ),
    luma AS (
      SELECT doc_id, (p // 3) % 16 AS x, (p // 3) // 16 AS y,
             SUM(CASE p % 3 WHEN 0 THEN 299 * b
                            WHEN 1 THEN 587 * b
                            ELSE 114 * b END) AS l
      FROM px GROUP BY 1, 2, 3
    ),
    grads AS (
      SELECT c.doc_id,
             ABS(r.l - lf.l) + ABS(d.l - u.l) AS g
      FROM luma c
      JOIN luma r  ON r.doc_id = c.doc_id AND r.x = c.x + 1 AND r.y = c.y
      JOIN luma lf ON lf.doc_id = c.doc_id AND lf.x = c.x - 1 AND lf.y = c.y
      JOIN luma d  ON d.doc_id = c.doc_id AND d.x = c.x AND d.y = c.y + 1
      JOIN luma u  ON u.doc_id = c.doc_id AND u.x = c.x AND u.y = c.y - 1
      WHERE c.x BETWEEN 1 AND 14 AND c.y BETWEEN 1 AND 14
    )
    SELECT doc_id,
           CAST(SUM(g) AS BIGINT) AS edge_energy_millis,
           ROUND(SUM(g) / (196.0 * 1000.0), 4) AS mean_gradient
    FROM grads GROUP BY doc_id
    """



@register("multimodal_image_edge_energy", oracle=_edge_oracle())
def multimodal_image_edge_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge energy over REAL decoded PPM pixels: central-difference
    gradient |l(x+1)-l(x-1)| + |l(y+1)-l(y-1)| summed over the 14x14
    interior, all in integer luma millis (no float until the final
    mean) — the detail/blur screen an image-corpus pipeline runs
    before spending caption or embedding compute on flat assets
    (near-zero edge energy = synthetic fill or defocus). The DuckDB
    twin re-synthesizes every pixel and re-joins the four-neighbor
    grid, verifying decode -> luma -> gradient -> reduce end to end.

    Shape: Arrow decode per asset with executor-local gradient
    accumulation (the grid never leaves the Python worker as rows);
    O(assets) output."""
    from hivetomysql_spark.operators import multimodal as M

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 1
    )
    binary = M.attach_multimodal_payload(docs, "doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("edge_energy_millis", LongType()),
            StructField("mean_gradient", DoubleType()),
        ]
    )

    def batches(it):
        for pdf in it:
            ids, en, mg = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, rgb = M.decode_ppm(payload)
                l = [
                    299 * rgb[3 * i] + 587 * rgb[3 * i + 1] + 114 * rgb[3 * i + 2]
                    for i in range(w * h)
                ]
                total = 0
                for y in range(1, h - 1):
                    for x in range(1, w - 1):
                        gx = abs(l[y * w + x + 1] - l[y * w + x - 1])
                        gy = abs(l[(y + 1) * w + x] - l[(y - 1) * w + x])
                        total += gx + gy
                ids.append(doc_id)
                en.append(total)
                mg.append(
                    M._round_half_up(total / ((w - 2) * (h - 2) * 1000.0), 4)
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "edge_energy_millis": en,
                    "mean_gradient": mg,
                }
            )

    return binary.mapInPandas(batches, schema=schema)
