"""Distributed ML training/feature suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



# ========================================================================
# from analytics_extras2.py — original batch rationale:
# Analytics extras, batch 2: experiment statistics, categorical
# encoding, and relational graph analytics.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's aggregation / governance tiers:
#
# * Welch's t-test — the unequal-variance A/B significance test, as ONE
#   conditional-aggregate pass (no per-variant scans);
# * frequency string indexer — MLlib StringIndexer semantics
#   (frequencyDesc with deterministic tie-break) expressed relationally;
# * degree distribution + triangle count — graph-shape metrics computed
#   on relational edge lists, the pre-GraphX shape that scales as plain
#   joins/aggregates.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_string_indexer",
    oracle="""
    WITH counts AS (
      SELECT o_orderpriority AS category, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT category, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, category) - 1 AS BIGINT)
             AS category_index
    FROM counts
    """,
)
def feature_string_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical label encoding with MLlib StringIndexer semantics
    (frequencyDesc order, lexical tie-break), expressed relationally:
    one groupBy for the frequency table, one O(distinct)-sized window
    for the dense 0-based indices. The model is the tiny (category →
    index) table — at 100 TB it is broadcast back for the actual
    encode join, so the fact table never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("n"), "category")
    return counts.select(
        "category",
        "n",
        (F.row_number().over(w) - 1).cast("long").alias("category_index"),
    )


# ========================================================================
# from analytics_extras5.py — original batch rationale:
# Analytics extras, batch 5: leave-one-out target encoding, bigram
# language-model surprisal, closed-form two-factor OLS, data-freshness
# audit, and a running order-backlog series.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's feature-engineering / corpus-
# curation / governance tiers:
#
# * LOO target encoding — the leakage-safe categorical encoder
#   ((sum−own)/(n−1)), reported as per-category distribution stats;
# * bigram surprisal — add-one-smoothed bigram LM scored over its own
#   corpus, the step past `text_lm_unigram_score`'s unigram model;
# * two-factor OLS — price ~ quantity + line-count by Cramer's rule on
#   sufficient statistics, the multivariate step past
#   `udaf_regression_slope`;
# * freshness lag — hours since each event type's latest record vs the
#   global high-watermark, the staleness monitor every ingest needs;
# * order backlog — opened-minus-shipped running balance, peak and
#   date, the gaps-and-islands-free flow/stock query.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_target_encoding",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT seg, COUNT(*) AS n, SUM(y) AS s FROM j GROUP BY seg),
    loo AS (
      SELECT j.seg, (g.s - j.y) / (g.n - 1) AS enc
      FROM j JOIN g ON j.seg = g.seg
    )
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(enc), 4) AS loo_mean,
           ROUND(STDDEV_SAMP(enc), 4) AS loo_std,
           ROUND(MIN(enc), 4) AS loo_min,
           ROUND(MAX(enc), 4) AS loo_max
    FROM loo GROUP BY seg
    """,
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of customer market segment
    against order price — each row's encoding excludes its own target
    ((sum−y)/(n−1)), the standard leakage guard — summarized as
    per-segment distribution stats.

    Scale shape: the customer join is unhinted (customer scales with
    the warehouse — AQE broadcasts while it fits);
    per-segment (n, sum) is one O(data) aggregate whose k-row result
    broadcasts back onto the fact rows, so the per-row encoding is a
    map-side expression — two scans of the joined frame, one shuffle
    each, no per-row re-aggregation. The window-function alternative
    (sum over segment partition) would shuffle the full fact table on
    a 5-value key; the broadcast-back form never keys a shuffle on
    the low-cardinality column.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        c, F.col("o_custkey") == F.col("c_custkey")
    ).select(F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("y"))
    g = j.groupBy("seg").agg(F.count("*").alias("n"), F.sum("y").alias("s"))
    loo = j.join(F.broadcast(g), "seg").select(
        "seg", ((F.col("s") - F.col("y")) / (F.col("n") - 1)).alias("enc")
    )
    return loo.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.round(F.avg("enc"), 4).alias("loo_mean"),
        F.round(F.stddev_samp("enc"), 4).alias("loo_std"),
        F.round(F.min("enc"), 4).alias("loo_min"),
        F.round(F.max("enc"), 4).alias("loo_max"),
    )


# ========================================================================
# from analytics_extras6.py — original batch rationale:
# Analytics extras, batch 6: survival analysis, multiple-testing
# correction, Holt-Winters smoothing, differential-privacy counts, KMV
# set sketches, watermark-dedup batch twin, bloom-prefiltered join,
# distributed connected components, the feature-hashing trick, and a
# Poisson rate test.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's statistics / privacy / sketch /
# graph tiers:
#
# * Kaplan-Meier — right-censored survival over order→last-ship
#   durations (status 'F' = event, else censored);
# * Benjamini-Hochberg — step-up FDR adjustment over per-group Welch
#   z p-values (logistic CDF approximation, identical in both engines);
# * Holt-Winters — level+trend double exponential smoothing, a genuine
#   sequential recurrence run as one per-key array fold;
# * DP noisy counts — Laplace mechanism with an md5-derived inverse-CDF
#   sample, so the noise is deterministic and oracle-checkable;
# * KMV sketch — k-minimum-values NDV + Jaccard/intersection estimates
#   with exact counterparts side by side;
# * watermark dedup — batch twin of Structured Streaming's
#   dropDuplicatesWithinWatermark (first event wins per key);
# * bloom prefilter — two-phase dim-key pruning (hashed bucket-set
#   broadcast, then exact broadcast semi join);
# * connected components — iterative min-label propagation on the
#   co-purchase graph, oracled by a recursive-CTE closure;
# * hashing trick — fixed-width token bucketing (the streaming-safe
#   vocabulary-free vectorizer);
# * Poisson rate test — conditional two-sample count comparison.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_FH_BUCKETS = 32



@register(
    "feature_hashing_trick",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    bucketed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_FH_BUCKETS} AS b
      FROM toks
    ),
    vec AS (
      SELECT doc_id, b, COUNT(*) AS cnt FROM bucketed GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS nnz,
           ROUND(sqrt(SUM(cnt * cnt)), 4) AS l2_norm,
           CAST(MIN(CASE WHEN cnt = (SELECT MAX(v2.cnt) FROM vec v2
                                     WHERE v2.doc_id = vec.doc_id)
                         THEN b END) AS BIGINT) AS top_bucket
    FROM vec
    GROUP BY doc_id
    """,
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens map to a fixed 32-bucket feature
    vector via md5 — no vocabulary, no fit step, stable across
    streams and retrains, collisions absorbed as in Weinberger et
    al. (ICML'09). Reported per document: token count, non-zero
    buckets, vector L2 norm, and the argmax bucket (smallest bucket
    id on ties, pinned so both engines agree).

    Shape: ZERO shuffles — the 32-bucket count vector is an array
    expression over the once-materialized bucket array (32 filtered
    counts per document, ~3k cheap integer compares for a 100-token
    doc), replacing the explode + per-(doc, bucket) groupBy + per-doc
    window plan (two exchanges and a sort). The bucketed vector (not
    the token dictionary) is what ships to training — the whole point
    at 100 TB, where a vocabulary build is itself a big-data job.
    Documents with zero alphabetic tokens drop, matching the prior
    post-explode filter."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    base = docs.select("doc_id", tk.alias("tk")).where(F.size("tk") > 0)
    bs = F.transform(
        "tk",
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % _FH_BUCKETS,
    )
    base = base.select("doc_id", bs.alias("bs"))
    cnts = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_BUCKETS - 1)),
        lambda k: F.size(F.filter("bs", lambda b: b == k.cast("long"))),
    )
    base = base.select("doc_id", F.size("bs").alias("ntok"), cnts.alias("cnts"))
    l2 = F.sqrt(
        F.aggregate(
            "cnts",
            F.lit(0).cast("long"),
            lambda acc, c: acc + (c * c).cast("long"),
        )
    )
    return base.select(
        "doc_id",
        F.col("ntok").cast("long").alias("n_tokens"),
        F.size(F.filter("cnts", lambda c: c > 0)).cast("long").alias("nnz"),
        F.round(l2, 4).alias("l2_norm"),
        # array_position returns the FIRST max index (1-based) —
        # the smallest bucket id on ties, matching the oracle
        (F.array_position("cnts", F.array_max("cnts")) - 1)
        .cast("long")
        .alias("top_bucket"),
    )


# ========================================================================
# from analytics_extras7.py — original batch rationale:
# Analytics extras, batch 7: LLM-corpus curation and embedding
# infrastructure — weighted reservoir sampling, a staged quality
# funnel, tokenizer vocabulary coverage, product quantization, and
# PCA by power iteration.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's training-data / embedding tiers:
#
# * importance sampling — Efraimidis-Spirakis exponential-key weighted
#   reservoir, the one-pass mergeable way to draw a weighted sample;
# * quality funnel — Gopher-style staged document filters with
#   per-stage survivor accounting;
# * vocab coverage — top-K corpus vocabulary + per-source OOV rates,
#   the tokenizer-fit diagnostic;
# * product quantization — 2x32-dim subspace codebook assignment with
#   quantization-error accounting, the ANN index building block;
# * PCA power iteration — dominant covariance eigenvector via three
#   matrix-free broadcast-vector passes.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_VOCAB_K = 100



@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT d.doc_id, d.source, t.tok
      FROM documents d,
           UNNEST(regexp_split_to_array(lower(d.text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
        FROM toks GROUP BY tok
      ) WHERE rn <= {_VOCAB_K}
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
             COUNT(*) AS n_tok,
             SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_oov * 1.0 / n_tok), 4) AS avg_oov_rate,
           ROUND(MAX(n_oov * 1.0 / n_tok), 4) AS max_oov_rate
    FROM per_doc GROUP BY source
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: build the top-100 corpus vocabulary
    (frequency-desc, lexical tie-break — StringIndexer order), then
    report per-source out-of-vocabulary token rates. High OOV on one
    source means the tokenizer/vocab was fit on a different
    distribution — the check that catches domain shift before
    training does.

    Shape: one token count (the vocabulary is a tiny top-k off an
    aggregate), broadcast back against the token stream as a left
    join — at 100 TB the vocab side is k rows, so coverage scoring
    stays a broadcast map-side pass, never a shuffle of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.select(
            "tok",
            F.row_number().over(Window.orderBy(F.desc("c"), "tok")).alias("rn"),
        )
        .where(F.col("rn") <= _VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    rate = F.col("n_oov") / F.col("n_tok")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg(rate), 4).alias("avg_oov_rate"),
        F.round(F.max(rate), 4).alias("max_oov_rate"),
    )


# ========================================================================
# from analytics_extras9.py — original batch rationale:
# Analytics extras, batch 9: classical seasonal decomposition, DP
# histograms with contribution bounding, full-batch logistic
# regression, and haversine hub assignment.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's time-series / privacy / ML / geo
# tiers:
#
# * classical decomposition — centered-MA trend, day-of-week seasonal
#   indexes, remainder spread (the pre-STL workhorse);
# * DP histogram — per-user contribution capping (bounded sensitivity)
#   before Laplace noise, the step naive DP counts miss;
# * logistic regression — three full-batch gradient-descent rounds on
#   sufficient statistics, every round oracled via unrolled CTEs;
# * haversine hubs — great-circle nearest-hub assignment over
#   deterministic pseudo-coordinates.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_LR_ITERS = 3


_LR_LR = 1.0


def _lr_oracle() -> str:
    # features: x0 = 1 (bias), x1 = l_quantity / 50, x2 = l_discount * 10
    # label: y = (l_returnflag = 'R')
    sql = """
    WITH pts AS (
      SELECT l_quantity / 50.0 AS x1,
             l_discount * 10.0 AS x2,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      FROM lineitem
    ),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM pts),
    it0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2)
    """
    prev = "it0"
    for k in range(1, _LR_ITERS + 1):
        sql += f"""
    , g{k} AS (
      SELECT SUM((1.0 / (1.0 + exp(-({prev}.w0 + {prev}.w1 * x1
                                     + {prev}.w2 * x2))) - y)) AS g0,
             SUM((1.0 / (1.0 + exp(-({prev}.w0 + {prev}.w1 * x1
                                     + {prev}.w2 * x2))) - y) * x1) AS g1,
             SUM((1.0 / (1.0 + exp(-({prev}.w0 + {prev}.w1 * x1
                                     + {prev}.w2 * x2))) - y) * x2) AS g2
      FROM pts CROSS JOIN {prev}
    ),
    it{k} AS (
      SELECT {prev}.w0 - {_LR_LR} * g{k}.g0 / n.n AS w0,
             {prev}.w1 - {_LR_LR} * g{k}.g1 / n.n AS w1,
             {prev}.w2 - {_LR_LR} * g{k}.g2 / n.n AS w2
      FROM {prev} CROSS JOIN g{k} CROSS JOIN n
    )
        """
        prev = f"it{k}"
    sql += f"""
    , loss AS (
      SELECT AVG(-(y * ln(1.0 / (1.0 + exp(-({prev}.w0 + {prev}.w1 * x1
                                            + {prev}.w2 * x2))))
                   + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-({prev}.w0
                       + {prev}.w1 * x1 + {prev}.w2 * x2)))))) AS ll
      FROM pts CROSS JOIN {prev}
    )
    SELECT CAST(n.n AS BIGINT) AS n_points,
           ROUND({prev}.w0, 5) AS w0,
           ROUND({prev}.w1, 5) AS w1,
           ROUND({prev}.w2, 5) AS w2,
           ROUND(loss.ll, 5) AS log_loss
    FROM {prev} CROSS JOIN loss CROSS JOIN n
    """
    return sql



@register("ml_logistic_regression_gd", oracle=_lr_oracle())
def ml_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch logistic regression by gradient descent: three
    rounds of w <- w - lr * (1/n) X^T(sigmoid(Xw) - y) predicting
    returned lines from quantity and discount. Each round is ONE
    aggregate over the fact table producing 3 gradient sums; the
    weight vector is O(features) driver state broadcast into the next
    round — the exact shape MLlib's LogisticRegression runs per
    iteration (treeAggregate of per-partition gradient partials).

    Oracled end-to-end: the DuckDB side unrolls all three
    matrix-free rounds plus the final log-loss as chained CTEs over
    the same sigmoid algebra, so the optimizer math — not just the
    data prep — is verified."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    )
    pts = pts.localCheckpoint()  # scanned once per round: cut lineage
    n = pts.count()
    w = [0.0, 0.0, 0.0]
    for _ in range(_LR_ITERS):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        resid = 1.0 / (1.0 + F.exp(-z)) - F.col("y")
        g = pts.agg(
            F.sum(resid).alias("g0"),
            F.sum(resid * F.col("x1")).alias("g1"),
            F.sum(resid * F.col("x2")).alias("g2"),
        ).collect()[0]
        w = [
            w[0] - _LR_LR * g["g0"] / n,
            w[1] - _LR_LR * g["g1"] / n,
            w[2] - _LR_LR * g["g2"] / n,
        ]
    zf = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-zf))
    ll = pts.agg(
        F.avg(-(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p))).alias(
            "ll"
        )
    ).collect()[0]["ll"]
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_points"),
        F.round(F.lit(w[0]), 5).alias("w0"),
        F.round(F.lit(w[1]), 5).alias("w1"),
        F.round(F.lit(w[2]), 5).alias("w2"),
        F.round(F.lit(ll), 5).alias("log_loss"),
    )


# ========================================================================
# from analytics_extras27.py — original batch rationale:
# Analytics extras, batch 27: training-split governance, URL
# parsing, schema contracts, and feature-engineering statistics.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's DQ / feature / governance tiers:
#
# * URL parsing — parse_url family over deterministic event URLs;
# * schema contract — declared column constraints audited in one scan;
# * NTILE binning — exact equal-depth feature discretization;
# * Cramér's V — categorical association strength from a contingency
#   table;
# * target encoding — smoothed mean-target categorical encoding;
# * split leakage — cross-split exact-duplicate contamination count;
# * PMI bigrams — pointwise-mutual-information collocations.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_ntile_binning",
    oracle="""
    WITH binned AS (
      SELECT o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 2) AS mean_price
    FROM binned
    GROUP BY bin
    """,
)
def feature_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (MLlib QuantileDiscretizer semantics,
    exact): NTILE(4) over the (value, key) order assigns equal-depth
    bins deterministically, then per-bin count/lo/hi/mean become the
    binning table a feature store persists. The NTILE is the
    DISTRIBUTED two-level form (operators/ranks.grouped_ntile with no
    group columns) — exact
    quantiles with no single-partition sort; percentile_approx bin
    edges + a scan-side CASE remain the cheaper approximate twin at
    100 TB, same downstream schema."""
    from hivetomysql_spark.operators.ranks import grouped_ntile

    o = load_table(spark, sf_dir, "orders")
    return (
        grouped_ntile(
            o.select("o_totalprice", "o_orderkey"),
            [],
            4,
            "o_totalprice",
            ["o_orderkey"],
            out="bin",
        )
        .select("o_totalprice", "bin")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
        )
    )



@register(
    "feature_target_encoding_smooth",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (
      SELECT segment, COUNT(*) AS n, SUM(o_totalprice) AS s FROM j GROUP BY 1
    ), gm AS (
      SELECT SUM(s) / SUM(n) AS gmean FROM g
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(s / n, 4) AS raw_mean,
           ROUND((s + 10 * gmean) / (n + 10), 4) AS encoded
    FROM g CROSS JOIN gm
    """,
)
def feature_target_encoding_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of customer market segment
    against order value: encoded = (Σy + m·global_mean)/(n + m) with
    m=10 — the Laplace-style shrinkage that keeps rare categories
    from memorizing noise. One broadcast dim join + one groupBy; the
    encoding table is category-sized and broadcasts back for the
    actual encode step, so the fact table never reshuffles."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    g = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    )
    glob = g.agg((F.sum("s") / F.sum("n")).alias("gmean"))
    return g.crossJoin(F.broadcast(glob)).select(
        "segment",
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("s") / F.col("n"), 4).alias("raw_mean"),
        F.round(
            (F.col("s") + 10 * F.col("gmean")) / (F.col("n") + 10), 4
        ).alias("encoded"),
    )


# ========================================================================
# from analytics_extras28.py — original batch rationale:
# Analytics extras, batch 28: scalable statistics and graph/recsys ops.
#
# None of these exist in the reference (`HiveToMysql.java:1-641` copies
# rows, computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Spearman rank correlation — the robust (monotone, outlier-immune)
#   complement of the `agg_stats` Pearson family.
# * Poisson bootstrap — THE scalable bootstrap (one pass, no
#   resampling shuffle); md5-deterministic so the whole mechanism is
#   oracle-checked end-to-end.
# * item co-occurrence similarity — the item-item collaborative-
#   filtering kernel (cosine over co-purchase incidence).
# * common-neighbor link prediction — Jaccard scores for unlinked
#   pairs of the co-purchase graph.
# * WOE / information value — the credit-scoring feature screen.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_woe_iv",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ),
    per_cat AS (
      SELECT cat,
             SUM(1 - bad) + 0.5 AS good_n,
             SUM(bad) + 0.5 AS bad_n
      FROM base GROUP BY cat
    ),
    tot AS (
      SELECT SUM(good_n) AS g, SUM(bad_n) AS b FROM per_cat
    )
    SELECT cat,
           CAST(good_n - 0.5 AS BIGINT) AS n_good,
           CAST(bad_n - 0.5 AS BIGINT) AS n_bad,
           ROUND(LN((good_n / g) / (bad_n / b)), 6) AS woe,
           ROUND((good_n / g - bad_n / b)
                 * LN((good_n / g) / (bad_n / b)), 6) AS iv_contrib
    FROM per_cat CROSS JOIN tot
    ORDER BY cat
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence / Information Value feature screen — the
    credit-scoring standard for ranking categorical predictors
    against a binary target (here: order priority vs
    finished-status). WOE_i = ln(good-share_i / bad-share_i) with the
    0.5 Laplace adjustment that keeps empty cells finite; the IV
    contribution (share-gap × WOE) sums to the feature's screening
    score (< 0.02 useless, > 0.3 strong).

    Shape: one grouped count over the fact table, then O(categories)
    scalar math against a broadcast 1-row total — the same
    zero-extra-shuffle profile as `privacy_dp_noise_count`; at 100 TB
    this is a single map-side-combined aggregation."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    per_cat = base.groupBy("cat").agg(
        (F.sum(1 - F.col("bad")) + 0.5).alias("good_n"),
        (F.sum("bad") + 0.5).alias("bad_n"),
    )
    tot = per_cat.agg(
        F.sum("good_n").alias("g"), F.sum("bad_n").alias("b")
    )
    gs = F.col("good_n") / F.col("g")
    bs = F.col("bad_n") / F.col("b")
    return (
        per_cat.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            (F.col("good_n") - 0.5).cast("long").alias("n_good"),
            (F.col("bad_n") - 0.5).cast("long").alias("n_bad"),
            F.round(F.log(gs / bs), 6).alias("woe"),
            F.round((gs - bs) * F.log(gs / bs), 6).alias("iv_contrib"),
        )
        .orderBy("cat")
    )


# ========================================================================
# from analytics_extras29.py — original batch rationale:
# Analytics extras, batch 29: relational ML training/eval and
# corpus-tooling ops.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * multinomial naive Bayes language ID — train AND predict fully
#   relationally (count model + broadcast log-likelihood join), the
#   simplest end-to-end ML loop an engine can host.
# * ABC/XYZ inventory matrix — Pareto revenue class × demand
#   variability class, the ops-planning segmentation.
# * discrete-time churn hazard — the hazard-table complement of the
#   Kaplan-Meier survival query.
# * BPE first-merge candidates — the pair-count step every tokenizer
#   trainer runs over the corpus.
# * RAKE keyword extraction — stopword-delimited phrase scoring via
#   gaps-and-islands, no UDFs.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "ml_naive_bayes_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    model AS (
      SELECT lang, tok, COUNT(*) AS n_lt FROM toks GROUP BY lang, tok
    ),
    lang_tot AS (
      SELECT lang, COUNT(*) AS n_l FROM toks GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
    priors AS (
      SELECT lang, COUNT(*) AS n_docs,
             LN(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents)) AS lp
      FROM documents GROUP BY lang
    ),
    dtc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    scored AS (
      SELECT d.doc_id, p.lang AS cand,
             p.lp + SUM(d.c * (LN(COALESCE(m.n_lt, 0) + 1.0)
                               - LN(t.n_l + vocab.v))) AS score
      FROM dtc d
      CROSS JOIN priors p
      CROSS JOIN vocab
      JOIN lang_tot t ON t.lang = p.lang
      LEFT JOIN model m ON m.lang = p.lang AND m.tok = d.tok
      GROUP BY d.doc_id, p.lang, p.lp
    ),
    pred AS (
      SELECT doc_id, cand AS predicted
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cand) = 1
    )
    SELECT doc.lang AS actual, pr.predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred pr JOIN documents doc ON doc.doc_id = pr.doc_id
    GROUP BY doc.lang, pr.predicted
    ORDER BY actual, predicted
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language ID, trained AND applied
    inside the engine: add-one-smoothed token likelihoods
    P(tok|lang) = (n_lt + 1) / (N_l + V) from grouped counts, doc
    score = log prior + Σ c·log P, argmax with a deterministic
    lang-ascending tie-break, reported as the actual×predicted
    confusion matrix. (The synthetic corpus shares one vocabulary
    across langs, so NB separates weakly — exactly what the
    confusion matrix is for.)

    Shape: the model is O(V·L) rows (here 31×5) — broadcast to the
    prediction join; per-doc work is token-count × L with one
    groupBy(doc, lang) shuffle; train + predict are a fixed THREE
    aggregations over one token explosion. At 100 TB the model stays
    tiny (vocab-bounded) and prediction remains a broadcast join —
    the classic "ML as a query" plan."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into the compressed (doc, lang, tok, count) form
    # and materialize it: model, per-lang totals, vocab, and the
    # prediction join are all derivations of this one table — without
    # the checkpoint the corpus was re-exploded six times
    dtc = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    model = dtc.groupBy("lang", "tok").agg(F.sum("c").alias("n_lt"))
    lang_tot = dtc.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vocab = dtc.agg(F.countDistinct("tok").alias("v"))
    n_docs = docs.count()
    priors = docs.groupBy("lang").agg(
        F.log(F.count(F.lit(1)) / F.lit(float(n_docs))).alias("lp")
    )
    cand = (
        priors.join(lang_tot, "lang")
        .crossJoin(vocab)
        .select(F.col("lang").alias("cand"), "lp", "n_l", "v")
    )
    scored = (
        dtc.crossJoin(F.broadcast(cand))
        .join(
            F.broadcast(
                model.select(
                    F.col("lang").alias("cand"), "tok", "n_lt"
                )
            ),
            ["cand", "tok"],
            "left",
        )
        .groupBy("doc_id", "cand")
        .agg(
            (
                F.first("lp")
                + F.sum(
                    F.col("c")
                    * (
                        F.log(F.coalesce(F.col("n_lt"), F.lit(0)) + 1.0)
                        - F.log(F.col("n_l") + F.col("v"))
                    )
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    return (
        pred.join(docs.select("doc_id", F.col("lang").alias("actual")), "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("actual", "predicted")
    )



@register(
    "tokenizer_bpe_merges",
    oracle="""
    WITH tf AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, SUM(freq) AS n
      FROM tf, UNNEST(generate_series(1, len(tok) - 1)) AS t(i)
      WHERE len(tok) >= 2
      GROUP BY substr(tok, i, 2)
    )
    SELECT pair, CAST(n AS BIGINT) AS n
    FROM pairs
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over the corpus: corpus-weighted
    adjacent-character-pair counts (each word's pairs weighted by its
    corpus frequency), top-20 — the candidate table from which a BPE
    tokenizer trainer picks its next merge rule. One iteration is the
    distributed-engine-shaped piece; the merge LOOP is driver-side
    control flow over this query, exactly how industrial tokenizer
    training over a 100 TB corpus is structured (count in the engine,
    merge table on the driver).

    Shape: token explosion → word-frequency table (vocab-sized, tiny)
    → per-word character pairs → one groupBy(pair). After the first
    reduce everything is vocab-bounded, so the pair stage costs
    ~nothing regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("tok") >= 2)
    )
    pairs = tf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    out = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("n"))
    return out.orderBy(F.desc("n"), "pair").limit(20)


# ========================================================================
# from analytics_extras31.py — original batch rationale:
# Analytics extras, batch 31: relational model training, robust
# regression, incremental ingestion, and DP order statistics.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * decision stump — the depth-1 CART split search as one scan
#   (candidate × side aggregate), "train a tree node as a query".
# * Theil-Sen slope — median-of-pairwise-slopes robust trend.
# * incremental corpus dedup — the production ingestion path: new
#   batch vs existing corpus only (never corpus × corpus).
# * DP median via the exponential mechanism — md5-determinized so the
#   mechanism itself is oracle-checked.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_STUMP_DECILES = [float(d) / 10.0 for d in range(1, 10)]



@register(
    "ml_decision_stump",
    oracle=f"""
    WITH base AS (
      SELECT o_totalprice AS x, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    th AS (
      SELECT quantile_cont(x, [{", ".join(str(d) for d in _STUMP_DECILES)}])
        AS qs
      FROM base
    ),
    num_cand AS (
      SELECT 'price<=' || CAST(ROUND(qs[i], 4) AS VARCHAR) AS split,
             qs[i] AS thr, NULL AS cat
      FROM th, UNNEST(generate_series(1, {len(_STUMP_DECILES)})) AS g(i)
    ),
    cat_cand AS (
      SELECT DISTINCT 'prio=' || cat AS split, NULL::DOUBLE AS thr, cat
      FROM base
    ),
    cand AS (SELECT * FROM num_cand UNION ALL SELECT * FROM cat_cand),
    assigned AS (
      SELECT c.split,
             CASE WHEN c.thr IS NOT NULL
                  THEN CASE WHEN b.x <= c.thr THEN 1 ELSE 0 END
                  ELSE CASE WHEN b.cat = c.cat THEN 1 ELSE 0 END
             END AS is_left,
             b.y
      FROM base b CROSS JOIN cand c
    ),
    sides AS (
      SELECT split, is_left, COUNT(*) AS n, AVG(y * 1.0) AS p
      FROM assigned GROUP BY split, is_left
    ),
    gini AS (
      SELECT split,
             SUM(n) AS n_total,
             SUM(n * 2.0 * p * (1.0 - p)) / SUM(n) AS weighted_gini
      FROM sides GROUP BY split
    )
    SELECT split,
           ROUND(weighted_gini, 6) AS gini,
           CAST(n_total AS BIGINT) AS n
    FROM gini
    ORDER BY gini, split
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 CART split search ("train a tree node as a query"):
    candidate splits are the 9 exact deciles of order value plus a
    one-vs-rest indicator per priority class; every candidate's
    weighted Gini impurity 2·p·(1−p) against the finished-status
    target is computed in ONE candidate-exploded aggregate and the
    table is returned ranked best-first — exactly the split-finding
    step a distributed tree trainer (XGBoost/LightGBM hist mode) runs
    per node.

    Shape: one exact-percentile pass (O(1) rows out) + one scan with
    a bounded ×14 candidate fan-out into a map-side-combinable
    groupBy(candidate, side) — at 100 TB this is the canonical
    histogram-based split search, no per-candidate rescans."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").alias("x"),
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    th = base.agg(
        F.percentile("x", F.array(*[F.lit(d) for d in _STUMP_DECILES])).alias(
            "qs"
        )
    )
    num_cand = th.select(
        F.explode("qs").alias("thr")
    ).select(
        F.concat(
            F.lit("price<="), F.round("thr", 4).cast("string")
        ).alias("split"),
        "thr",
        F.lit(None).cast("string").alias("cat"),
    )
    cat_cand = base.select("cat").distinct().select(
        F.concat(F.lit("prio="), "cat").alias("split"),
        F.lit(None).cast("double").alias("thr"),
        "cat",
    )
    cand = num_cand.unionByName(cat_cand)
    assigned = base.crossJoin(F.broadcast(cand.withColumnRenamed("cat", "ccat"))).select(
        "split",
        F.when(
            F.col("thr").isNotNull(),
            F.when(F.col("x") <= F.col("thr"), 1).otherwise(0),
        )
        .otherwise(F.when(F.col("cat") == F.col("ccat"), 1).otherwise(0))
        .alias("is_left"),
        "y",
    )
    sides = assigned.groupBy("split", "is_left").agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.col("y") * 1.0).alias("p")
    )
    gini = sides.groupBy("split").agg(
        F.sum("n").alias("n_total"),
        (
            F.sum(F.col("n") * 2.0 * F.col("p") * (1.0 - F.col("p")))
            / F.sum("n")
        ).alias("weighted_gini"),
    )
    return gini.select(
        "split",
        F.round("weighted_gini", 6).alias("gini"),
        F.col("n_total").cast("long").alias("n"),
    ).orderBy("gini", "split")


# ========================================================================
# from analytics_extras33.py — original batch rationale:
# Analytics extras, batch 33: model evaluation metrics and the PQ
# search path.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * exact ROC-AUC — rank-sum (Mann-Whitney) formulation with tie
#   averaging, one pass after ranking.
# * calibration / reliability bins — per-decile predicted-vs-observed
#   gap, the input to ECE and calibration plots.
# * PQ asymmetric-distance search — the query-time half of product
#   quantization (lookup-table distances over codes).
# * tokenizer fertility — subword tokens per word by language, the
#   standard tokenizer-quality metric for multilingual corpora.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table
from hivetomysql_spark.operators.text import BPE_PRETOKEN_RE as _BPE_REGEX



@register(
    "ml_roc_auc",
    oracle="""
    WITH scored AS (
      SELECT o_totalprice AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    ranked AS (
      SELECT y,
             RANK() OVER (ORDER BY s)
               + (COUNT(*) OVER (PARTITION BY s) - 1) / 2.0 AS r
      FROM scored
    )
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(1 - y) AS BIGINT) AS n_neg,
           ROUND((SUM(CASE WHEN y = 1 THEN r ELSE 0 END)
                  - SUM(y) * (SUM(y) + 1.0) / 2.0)
                 / (SUM(y) * SUM(1 - y)), 6) AS auc
    FROM ranked
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC by the Mann-Whitney rank-sum identity:
    AUC = (Σ ranks of positives − n₊(n₊+1)/2) / (n₊·n₋) with
    tie-averaged (fractional) ranks — the trapezoidal-ROC value
    without materializing a curve, and the identity every
    distributed ML eval uses because it needs ONE rank pass instead
    of threshold sweeps. (Order value vs finished status is
    uninformative by construction, so the fixture's AUC ≈ 0.5 — the
    metric itself is what's verified.)

    Shape: fully DISTRIBUTED rank-by-value — tied rows share their
    fractional rank, so Σ ranks-of-positives needs only the
    O(distinct-scores) frame: groupBy(score) → bucketed prefix sum
    (operators/ranks) → Σ pos(v)·frank(v). No per-row rank, no join
    back, no single-partition sort (the r9 measured-row audit caught
    the previous orders-sized global rank window)."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_totalprice").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    cum = grouped_row_number(per, [], "s", out=None, sums={"cumcnt": "cnt"})
    frank = F.col("cumcnt") - F.col("cnt") + (F.col("cnt") + 1) / 2.0
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * frank)
                - F.sum("pos") * (F.sum("pos") + 1.0) / 2.0
            )
            / (F.sum("pos") * F.sum(F.col("cnt") - F.col("pos"))),
            6,
        ).alias("auc"),
    )



@register(
    "ml_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey) AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    binned AS (
      SELECT least(CAST(FLOOR(p * 10) AS INT), 9) AS bin, p, y
      FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p), 6) AS mean_score,
           ROUND(AVG(y * 1.0), 6) AS frac_pos,
           ROUND(ABS(AVG(p) - AVG(y * 1.0)), 6) AS abs_gap
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration table: the model score (here the
    deterministic percent-rank of order value standing in for a
    predicted probability) is cut into 10 equal-width bins; each bin
    reports mean predicted score vs observed positive rate and their
    gap — the per-bin terms of Expected Calibration Error and the
    bars of every reliability diagram.

    Shape: DISTRIBUTED percent-rank — p = (r−1)/(n−1) from the
    bucketed two-level row_number (operators/ranks) plus one
    broadcast count, then one map-side-combined groupBy(bin). No
    single-partition sort (the r9 measured-row audit caught the
    previous orders-sized global window)."""
    from hivetomysql_spark.operators.ranks import grouped_row_number

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    ranked = grouped_row_number(
        base, [], "o_totalprice", ["o_orderkey"], out="r"
    )
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    # guard the single-row frame: percent_rank defines p=0.0 there,
    # while (r-1)/(n-1) would divide by zero (ANSI error)
    scored = ranked.crossJoin(F.broadcast(n)).select(
        F.when(
            F.col("__n") > 1, (F.col("r") - 1) / (F.col("__n") - 1)
        )
        .otherwise(F.lit(0.0))
        .alias("p"),
        "y",
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "p",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("p"), 6).alias("mean_score"),
            F.round(F.avg(F.col("y") * 1.0), 6).alias("frac_pos"),
            F.round(F.abs(F.avg("p") - F.avg(F.col("y") * 1.0)), 6).alias(
                "abs_gap"
            ),
        )
        .select(F.col("bin").cast("long"), "n", "mean_score", "frac_pos", "abs_gap")
        .orderBy("bin")
    )


# ========================================================================
# from analytics_extras35.py — original batch rationale:
# Analytics extras, batch 35: targeting economics, embedding drift,
# heavy tails, and graph mixing structure.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * cumulative gains / lift table — the decile targeting-economics
#   view every campaign model ships with.
# * embedding centroid drift — per-label centroid displacement between
#   two corpus halves, the embedding-space drift monitor.
# * Hill tail index — the heavy-tail exponent estimator for revenue /
#   latency distributions.
# * degree assortativity — do hubs link to hubs? The Pearson degree
#   correlation over edges.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "ml_lift_gains_table",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS decile
      FROM orders
    ),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM per)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS n_pos,
           ROUND(SUM(pos) OVER (ORDER BY decile
                                ROWS UNBOUNDED PRECEDING) * 1.0 / tot.tp, 6)
             AS cum_gain,
           ROUND((pos * 1.0 / n) / (tot.tp * 1.0 / tot.tn), 6) AS lift
    FROM per, tot
    ORDER BY decile
    """,
)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile (score = order value
    ranked desc, target = finished status): cum_gain is the share of
    all positives captured by the top-k deciles, lift is each
    decile's positive rate over the base rate — the table that
    decides how deep a campaign should mail. (Independent score ⇒
    lift ≈ 1 everywhere on this fixture; the metric plumbing is
    what's verified.)

    Shape: DISTRIBUTED NTILE (operators/ranks.grouped_ntile, no group
    columns, on the
    negated score — value-range buckets + broadcast offsets, no
    single-partition sort; the r9 measured-row audit caught the
    previous orders-sized global window), one O(10) aggregate +
    running sum over the decile frame."""
    from hivetomysql_spark.operators.ranks import grouped_ntile

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (-F.col("o_totalprice")).alias("negp"),
        "o_orderkey",
    )
    scored = grouped_ntile(
        base, [], 10, "negp", ["o_orderkey"], out="decile"
    ).select("y", "decile")
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    cum = F.sum("pos").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long"),
            F.col("n").cast("long"),
            F.col("pos").cast("long").alias("n_pos"),
            F.round(cum * 1.0 / F.col("tp"), 6).alias("cum_gain"),
            F.round(
                (F.col("pos") * 1.0 / F.col("n"))
                / (F.col("tp") * 1.0 / F.col("tn")),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# ========================================================================
# from analytics_extras37.py — original batch rationale:
# Analytics extras, batch 37: clustering initialization, inventory
# economics, causal estimation, and intermittent-demand forecasting.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * k-means++ seeding — D²-weighted center selection, the step that
#   makes Lloyd's algorithm work; md5-determinized so the sampling
#   itself is oracle-checked round by round.
# * newsvendor quantile — the critical-fractile stocking level from
#   the empirical demand distribution.
# * difference-in-differences — the 2×2 causal estimator over a
#   pre/post × treat/control split.
# * Croston's method — the intermittent-demand forecaster (separate
#   EMAs for demand size and inter-demand interval).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_KPP_K = 4


def _kpp_dist_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _kpp_oracle() -> str:
    # round 1: center = vector whose md5(vec_id) hex is minimal
    # rounds 2..k: D^2-weighted pick at an md5 uniform over the
    # cumulative distance mass, ordered by vec_id
    rounds = []
    prev_sel = "s1"
    for r in range(2, _KPP_K + 1):
        rounds.append(f"""d{r} AS (
      -- filter the center side BEFORE the join: the ON c.vec_id IN
      -- (...) form made DuckDB evaluate the full e x e product of
      -- list distances (~400M pairs at sf1) before filtering
      SELECT e.vec_id,
             MIN({_kpp_dist_sql("e.x", "c.x")}) AS dmin
      FROM e CROSS JOIN (SELECT x FROM e
                         WHERE vec_id IN (SELECT vec_id FROM {prev_sel})) c
      GROUP BY e.vec_id
    ),
    cum{r} AS (
      SELECT vec_id, dmin,
             SUM(dmin) OVER (ORDER BY vec_id
                             ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(dmin) OVER () AS tw
      FROM d{r}
    ),
    pick{r} AS (
      SELECT MIN(vec_id) AS vec_id FROM cum{r}
      WHERE cw >= tw * ((('0x' || substr(md5('kpp{r}'), 1, 8))::BIGINT
                         % 999983) + 0.5) / 999983.0
    ),
    s{r} AS (
      SELECT vec_id FROM {prev_sel} UNION ALL SELECT vec_id FROM pick{r}
    )""")
        prev_sel = f"s{r}"
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
    ),
    s1 AS (
      SELECT vec_id FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 1
    ),
    {",".join(rounds)},
    final_d AS (
      SELECT e.vec_id, MIN({_kpp_dist_sql("e.x", "c.x")}) AS dmin
      FROM e CROSS JOIN (SELECT x FROM e
                         WHERE vec_id IN (SELECT vec_id FROM s{_KPP_K})) c
      GROUP BY e.vec_id
    )
    SELECT CAST({_KPP_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_vectors,
           CAST((SELECT MIN(vec_id) FROM s1) AS BIGINT) AS seed_center,
           CAST((SELECT SUM(vec_id) FROM s{_KPP_K}) AS BIGINT)
             AS centers_id_sum,
           ROUND(AVG(dmin), 4) AS avg_d2_to_nearest
    FROM final_d
    """



@register("ml_kmeans_plusplus_seeding", oracle=_kpp_oracle())
def ml_kmeans_plusplus_seeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means++ seeding (Arthur & Vassilvitskii 2007): the first
    center is the md5-minimal vector; each subsequent center is drawn
    with probability ∝ D² (squared distance to the nearest chosen
    center), sampled by inverting the cumulative D² mass at an
    md5-derived uniform — deterministic, so the oracle re-executes
    the SAMPLING itself round by round (a production run swaps in a
    seeded RNG; the k scans stay identical). Output: chosen-center
    fingerprint + the resulting average D² (the quantity k-means++
    provably bounds within O(log k) of optimal).

    Shape: k-1 rounds of [broadcast chosen centers → one scan
    computing per-row min distance → O(1) cumulative pick]; each
    round is one data-sized scan, no pairwise blowup — exactly how
    MLlib's kmeans|| generalizes this to oversampled parallel
    rounds. The per-row min distance runs in-row over a packed
    center array (operators/packed.py, r13): MIN over doubles is
    order-insensitive, so ``array_min`` equals the former
    crossJoin + groupBy(vec_id).min exactly while removing that
    N×|centers| shuffle per round. The cumulative-D² window is left
    as the sequential single-partition form on purpose: its float
    sum ORDER is the contract the oracle reproduces (a two-level
    prefix sum re-associates the additions and can flip a knife-edge
    inversion pick)."""
    from hivetomysql_spark.operators.packed import attach_packed

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    ).localCheckpoint()
    n_vectors = e.count()

    def d2(a, b):
        dot = lambda p, q: F.aggregate(  # noqa: E731
            F.zip_with(p, q, lambda u, v: u * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return dot(a, a) - 2 * dot(a, b) + dot(b, b)

    first = (
        e.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(1)
        .collect()[0]
        .vec_id
    )
    centers = [int(first)]
    from pyspark.sql.window import Window

    def min_d2(csel):
        packed = csel.agg(F.collect_list("cx").alias("cs"))
        j = attach_packed(e, packed)
        return j.select(
            "vec_id",
            F.array_min(
                F.transform(F.col("cs"), lambda c: d2(F.col("x"), c))
            ).alias("dmin"),
        )

    for r in range(2, _KPP_K + 1):
        csel = e.where(F.col("vec_id").isin(centers)).select(
            F.col("x").alias("cx")
        )
        dmin = min_d2(csel)
        cum = dmin.select(
            "vec_id",
            F.sum("dmin")
            .over(
                Window.orderBy("vec_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cw"),
            F.sum("dmin").over(Window.partitionBy()).alias("tw"),
        )
        h = F.conv(F.substring(F.md5(F.lit(f"kpp{r}")), 1, 8), 16, 10).cast(
            "long"
        )
        uni = ((h % 999983) + 0.5) / 999983.0
        pick = (
            cum.where(F.col("cw") >= F.col("tw") * uni)
            .agg(F.min("vec_id"))
            .collect()[0][0]
        )
        centers.append(int(pick))
    csel = e.where(F.col("vec_id").isin(centers)).select(
        F.col("x").alias("cx")
    )
    final_d = min_d2(csel)
    return final_d.agg(
        F.lit(_KPP_K).cast("long").alias("k"),
        F.lit(n_vectors).cast("long").alias("n_vectors"),
        F.lit(centers[0]).cast("long").alias("seed_center"),
        F.lit(sum(centers)).cast("long").alias("centers_id_sum"),
        F.round(F.avg("dmin"), 4).alias("avg_d2_to_nearest"),
    )


# ========================================================================
# from analytics_extras38.py — original batch rationale:
# Analytics extras, batch 38: receivables aging, PR curves, local
# graph structure, and randomization inference.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * AR aging buckets — open-order value by age band at a snapshot,
#   the finance-ops workhorse report.
# * precision/recall curve — threshold sweep over score deciles, the
#   imbalanced-data complement of the ROC.
# * local clustering coefficient — per-node triangle closure rate,
#   averaged (Watts-Strogatz C).
# * permutation (randomization) test — md5-determinized label
#   reshuffles completing the bootstrap/jackknife resampling family.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "ml_precision_recall_curve",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS decile
      FROM orders
    ),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cn,
             SUM(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cpos,
             (SELECT SUM(pos) FROM per) AS tp
      FROM per
    )
    SELECT CAST(decile AS BIGINT) AS threshold_decile,
           ROUND(cpos * 1.0 / cn, 6) AS precision,
           ROUND(cpos * 1.0 / tp, 6) AS recall,
           ROUND(2.0 * (cpos * 1.0 / cn) * (cpos * 1.0 / tp)
                 / ((cpos * 1.0 / cn) + (cpos * 1.0 / tp)), 6) AS f1
    FROM cum
    ORDER BY threshold_decile
    """,
)
def ml_precision_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at 10 score-decile thresholds ("flag the
    top-k deciles"): the threshold-sweep table behind PR curves and
    operating-point selection — the evaluation that matters under
    class imbalance where ROC flatters. (Independent score ⇒
    precision ≈ base rate at every threshold on this fixture.)

    Shape: DISTRIBUTED NTILE (operators/ranks.grouped_ntile, same
    form as `ml_lift_gains_table` — no single-partition sort), one
    O(10) aggregate + running sums over the decile frame."""
    from hivetomysql_spark.operators.ranks import grouped_ntile

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (-F.col("o_totalprice")).alias("negp"),
        "o_orderkey",
    )
    scored = grouped_ntile(
        base, [], 10, "negp", ["o_orderkey"], out="decile"
    ).select("y", "decile")
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per.agg(F.sum("pos").alias("tp"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
        "tp",
    )
    prec = F.col("cpos") * 1.0 / F.col("cn")
    rec = F.col("cpos") * 1.0 / F.col("tp")
    return cum.select(
        F.col("decile").cast("long").alias("threshold_decile"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2.0 * prec * rec / (prec + rec), 6).alias("f1"),
    ).orderBy("threshold_decile")


# ========================================================================
# from analytics_extras48.py — original batch rationale:
# Analytics extras, batch 48: boosted stumps, a pinned HyperLogLog,
# and readability scoring.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * gradient-boosted stumps — 3 rounds of L2 boosting with depth-1
#   trees expressed relationally (the XGBoost training loop as a
#   query): residuals -> candidate-split histogram -> argmax gain ->
#   broadcast update, no exploded fact rows, no driver-side model.
# * pinned HyperLogLog — a full 256-register HLL built from md5
#   hashes with integer-only rank extraction, so the DuckDB oracle
#   re-derives every register and the estimate; upgrades the
#   approx-NDV family from contract-tested to value-verified.
# * Flesch readability — words/sentences/syllable-group counts per
#   document via regexp, averaged per source: the classic
#   text-quality signal next to `text_quality`'s ratios.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_GBDT_CANDS = [5, 10, 15, 20, 25, 30, 35, 40, 45]


_GBDT_LR = 0.5


_GBDT_ROUNDS = 3


# test hook: force the distributed round machinery even when the
# driver finisher's guard passes (tests/test_gbdt_dispatch.py asserts
# both arms produce identical rows)
_GBDT_FORCE_DISTRIBUTED = False


def _gbdt_rounds_on_driver(spark: SparkSession, rows) -> DataFrame:
    """The O(1) boosting rounds over the collected 10-row histogram.

    Replicates the distributed form's arithmetic exactly: prefix sums
    in bucket order, lexicographic (gain, -threshold) split choice,
    residual-centered RMSE, and Spark's ROUND semantics (HALF_UP on
    the double's shortest decimal repr — what ``F.round`` does via
    ``BigDecimal(Double.toString(x))``; Python's ``repr`` produces
    the same shortest digits).
    """
    import math  # noqa: PLC0415
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    def rnd4(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    bks = [r["bk"] for r in rows]
    n = {r["bk"]: r["n_b"] for r in rows}
    a = {r["bk"]: float(r["a_b"]) for r in rows}
    q = {r["bk"]: float(r["q_b"]) for r in rows}
    d = dict.fromkeys(bks, 0.0)
    nt = sum(n[bk] for bk in bks)
    out = []
    for rnum in range(1, _GBDT_ROUNDS + 1):
        s = {bk: a[bk] - n[bk] * d[bk] for bk in bks}
        st = 0.0
        for bk in bks:
            st += s[bk]
        best = None
        nl, sl = 0, 0.0
        for bk in bks:
            nl += n[bk]
            sl += s[bk]
            if bk > 9:  # candidates are 5..45
                continue
            nr, sr = nt - nl, st - sl
            ml, mr = sl / nl, sr / nr
            cand = (ml * sl + mr * sr, -bk * 5, ml, mr)
            if best is None or cand > best:
                best = cand
        c, ml, mr = -best[1], best[2], best[3]
        for bk in bks:
            d[bk] += _GBDT_LR * (ml if bk * 5 <= c else mr)
        acc = 0.0
        for bk in bks:
            acc += q[bk] - 2.0 * d[bk] * a[bk] + n[bk] * d[bk] * d[bk]
        out.append(
            (rnum, int(c), rnd4(ml), rnd4(mr), rnd4(math.sqrt(acc / nt)))
        )
    # schema must match the distributed form field-for-field INCLUDING
    # nullability (round comes from a non-nullable lit there)
    from pyspark.sql import types as T  # noqa: PLC0415

    schema = T.StructType(
        [
            T.StructField("round", T.IntegerType(), False),
            T.StructField("split_at", T.IntegerType(), True),
            T.StructField("mean_left", T.DoubleType(), True),
            T.StructField("mean_right", T.DoubleType(), True),
            T.StructField("rmse", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _gbdt_oracle() -> str:
    """Unrolled boosting rounds: each round computes the 9-candidate
    split histogram from sufficient statistics, picks the max-gain
    split (ties -> smaller threshold), and updates the prediction via
    a cross join of the 1-row winner."""
    parts = ["""
    WITH pts AS (
      SELECT l_quantity AS x,
             l_extendedprice AS y,
             (SELECT AVG(l_extendedprice) FROM lineitem) AS f
      FROM lineitem
    ),
    r0 AS (SELECT x, y, f FROM pts)"""]
    for r in range(1, _GBDT_ROUNDS + 1):
        cand_rows = ", ".join(f"({c})" for c in _GBDT_CANDS)
        parts.append(f"""
    cand{r} AS (
      SELECT c,
             SUM(CASE WHEN x <= c THEN 1 ELSE 0 END) AS nl,
             SUM(CASE WHEN x <= c THEN y - f ELSE 0 END) AS sl,
             SUM(CASE WHEN x > c THEN 1 ELSE 0 END) AS nr,
             SUM(CASE WHEN x > c THEN y - f ELSE 0 END) AS sr
      FROM r{r - 1}, (VALUES {cand_rows}) AS cs(c)
      GROUP BY c
    ),
    best{r} AS (
      SELECT c, sl / nl AS ml, sr / nr AS mr,
             (sl / nl) * sl + (sr / nr) * sr AS gain
      FROM cand{r}
      ORDER BY gain DESC, c LIMIT 1
    ),
    r{r} AS (
      SELECT x, y,
             f + {_GBDT_LR} * (CASE WHEN x <= b.c THEN b.ml ELSE b.mr END)
               AS f
      FROM r{r - 1}, best{r} b
    ),
    out{r} AS (
      SELECT {r} AS round,
             (SELECT c FROM best{r}) AS split_at,
             ROUND((SELECT ml FROM best{r}), 4) AS mean_left,
             ROUND((SELECT mr FROM best{r}), 4) AS mean_right,
             ROUND(SQRT(SUM((y - f) * (y - f)) / COUNT(*)), 4) AS rmse
      FROM r{r}
    )""")
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM out{r}" for r in range(1, _GBDT_ROUNDS + 1)
    )
    return ",".join(parts) + f"\n    {union}"



@register("ml_gbdt_stumps_boost", oracle=_gbdt_oracle())
def ml_gbdt_stumps_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted depth-1 trees, trained relationally: 3 rounds
    of L2 boosting of l_extendedprice on l_quantity.

    The FULL XGBoost-hist reduction (r11): every candidate split
    (5..45) is a width-5 bucket boundary, so the model f is
    piecewise-CONSTANT per bucket — which means the whole boosting
    loop closes over the 10-row histogram. ONE scan of the fact table
    computes per-bucket sufficient statistics relative to f0
    (n_b, a_b = Σ(y−f0), q_b = Σ(y−f0)²); each round then needs only
    the per-bucket model delta d_b: split stats s_b = a_b − n_b·d_b,
    gains from prefix sums over 10 rows, the update is d_b += lr·m,
    and RMSE_r = sqrt(Σ_b(q_b − 2·d_b·a_b + n_b·d_b²) / Σ_b n_b) —
    residual-centered, so no catastrophic cancellation. Identical
    numbers to the per-row form (f is exactly constant within each
    bucket), verified against the row-wise DuckDB oracle at
    sf0.01/sf0.1/sf1.

    Scale: the previous form re-materialized the FULL (x, y, f)
    matrix through a lazy localCheckpoint every round (3 pinned
    O(data) frames; at sf10 it hit GCLocker allocation thrash and a
    26x wall-time step — tools/scalecheck.py, SCALING.md r11). Now
    the only O(data) work is the single histogram scan (map-side
    partials, one 10-row shuffle); every round after that is O(1) —
    10-row frames, 1-row broadcast joins, nothing pinned, nothing
    collected driver-side."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    f0 = li.agg(F.avg("y").alias("f0"))
    bucket = F.least(
        F.greatest(F.ceil(F.col("x") / 5).cast("int"), F.lit(1)),
        F.lit(10),
    )
    # the one O(data) pass; 10 rows out. Lazily checkpointed: every
    # round's branch (gain scan, RMSE) re-reads it — bounded frame,
    # measured 10 rows at any scale (tests/test_checkpoint_gate.py)
    hist = (
        li.crossJoin(F.broadcast(f0))
        .groupBy(bucket.alias("bk"))
        .agg(
            F.count(F.lit(1)).alias("n_b"),
            F.sum(F.col("y") - F.col("f0")).alias("a_b"),
            F.sum(
                (F.col("y") - F.col("f0")) * (F.col("y") - F.col("f0"))
            ).alias("q_b"),
        )
        .localCheckpoint(eager=False)
    )
    # Driver-side split search (r13): the boosting loop is O(1) BY
    # CONSTRUCTION — it closes over the fixed 10-row histogram at any
    # corpus size, which is exactly the split XGBoost makes (cluster
    # builds the histogram, driver searches the splits). The
    # distributed round machinery cost ~14 scheduler jobs (per-round
    # broadcast builds + the branch-per-round union) to move tens of
    # rows; the driver finisher is one 10-row collect. Same arithmetic
    # in the same per-bucket order; guarded on all 10 buckets being
    # populated (an empty split side would hit Spark's divide-by-zero
    # semantics — the distributed path keeps them, and the fixtures
    # populate every bucket at every measured scale).
    if not _GBDT_FORCE_DISTRIBUTED:
        rows = sorted(hist.collect(), key=lambda r: r["bk"])
        if len(rows) == 10:
            return _gbdt_rounds_on_driver(spark, rows)
    cur = hist.withColumn("d", F.lit(0.0))
    out_rows = []
    from pyspark.sql.window import Window

    for r in range(1, _GBDT_ROUNDS + 1):
        wc = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0)
        wa = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        s_b = (F.col("a_b") - F.col("n_b") * F.col("d")).alias("s_b")
        cumm = cur.select("bk", "n_b", s_b).select(
            "bk",
            F.sum("n_b").over(wc).alias("nl"),
            F.sum("s_b").over(wc).alias("sl"),
            F.sum("n_b").over(wa).alias("nt"),
            F.sum("s_b").over(wa).alias("st"),
        ).where(F.col("bk") <= 9)  # candidates are 5..45
        nr = F.col("nt") - F.col("nl")
        sr = F.col("st") - F.col("sl")
        cand_struct = F.struct(
            (
                (F.col("sl") / F.col("nl")) * F.col("sl")
                + (sr / nr) * sr
            ).alias("gain"),
            (-F.col("bk") * 5).alias("neg_c"),
            (F.col("sl") / F.col("nl")).alias("ml"),
            (sr / nr).alias("mr"),
        )
        # max struct picks max gain, ties toward the SMALLER
        # threshold via -c
        best = cumm.agg(F.max(cand_struct).alias("b")).select(
            (-F.col("b.neg_c")).alias("c"),
            F.col("b.ml").alias("ml"),
            F.col("b.mr").alias("mr"),
        )
        # x <= c  ⟺  bk*5 <= c: every candidate c is a bucket
        # boundary, so the stump never cuts inside a bucket
        cur = cur.crossJoin(F.broadcast(best)).select(
            "bk",
            "n_b",
            "a_b",
            "q_b",
            (
                F.col("d")
                + _GBDT_LR
                * F.when(
                    F.col("bk") * 5 <= F.col("c"), F.col("ml")
                ).otherwise(F.col("mr"))
            ).alias("d"),
        )
        out_rows.append(
            cur.agg(
                F.lit(r).alias("round"),
                F.sqrt(
                    F.sum(
                        F.col("q_b")
                        - 2.0 * F.col("d") * F.col("a_b")
                        + F.col("n_b") * F.col("d") * F.col("d")
                    )
                    / F.sum("n_b")
                ).alias("rmse_raw"),
            )
            .crossJoin(F.broadcast(best))
            .select(
                F.col("round").cast("int").alias("round"),
                F.col("c").cast("int").alias("split_at"),
                F.round("ml", 4).alias("mean_left"),
                F.round("mr", 4).alias("mean_right"),
                F.round("rmse_raw", 4).alias("rmse"),
            )
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


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


_KNN_QUERIES = 25


_KNN_K = 5


_COS_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)



@register(
    "ml_knn_classifier",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS x, label FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, x AS qx, label AS true_label
      FROM e WHERE vec_id < {_KNN_QUERIES}
    ),
    scored AS (
      SELECT q.qid, q.true_label, e.label,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY {_COS_SQL.format(a="e.x", b="q.qx")} DESC, e.vec_id
             ) AS rnk
      FROM e JOIN q ON e.vec_id >= {_KNN_QUERIES}
    ),
    votes AS (
      SELECT qid, true_label, label, COUNT(*) AS v
      FROM scored WHERE rnk <= {_KNN_K}
      GROUP BY qid, true_label, label
    ),
    pred AS (
      SELECT qid, true_label, label AS pred_label, v,
             ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY v DESC, label
             ) AS pr
      FROM votes
    )
    SELECT qid AS query_id,
           CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(v AS BIGINT) AS n_votes,
           true_label = pred_label AS is_correct
    FROM pred WHERE pr = 1
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification over the embedding table:
    the first 25 vectors are queries, the rest the labeled reference
    set; each query takes the majority label of its top-5 cosine
    neighbors (ties -> more votes first, then smaller label — fully
    deterministic). The classifier every retrieval stack gets for
    free once ANN exists; the exact tier here is the oracle/verify
    path for an LSH/IVF-accelerated production tier (the candidate
    generation swaps, the vote does not).

    Shape: queries broadcast against one scan of the reference side;
    per-query ranking is a window over the scored pass; votes and
    argmax are O(queries x k). Nothing data-sized shuffles."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        "label",
    )
    q = e.where(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("x").alias("qx"),
        F.col("label").alias("true_label"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, r: p * r),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("x"), F.col("qx")) / (
        F.sqrt(dot(F.col("x"), F.col("x")))
        * F.sqrt(dot(F.col("qx"), F.col("qx")))
    )
    scored = (
        e.where(F.col("vec_id") >= _KNN_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "true_label",
            "label",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(F.desc(cos), "vec_id")
            )
            .alias("rnk"),
        )
        .where(F.col("rnk") <= _KNN_K)
    )
    votes = scored.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).alias("v")
    )
    pred = votes.select(
        "qid",
        "true_label",
        F.col("label").alias("pred_label"),
        "v",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("v"), "label"))
        .alias("pr"),
    ).where(F.col("pr") == 1)
    return pred.select(
        F.col("qid").alias("query_id"),
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
        F.col("v").cast("long").alias("n_votes"),
        (F.col("true_label") == F.col("pred_label")).alias("is_correct"),
    )


# ========================================================================
# from analytics_extras52.py — original batch rationale:
# Analytics extras, batch 52: LSH quality audit, Theil inequality,
# CV fold assignment, and the bullwhip effect.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * LSH quality audit — precision/recall of the banded-MinHash
#   candidate set against exact Jaccard ground truth, BOTH computed
#   in-engine and both re-derived by the oracle: the evaluation
#   harness for the dedup tier, as a query.
# * Theil T index — the decomposable inequality measure next to the
#   Gini / Lorenz pair already in the registry.
# * CV folds — deterministic md5 k-fold assignment with per-fold
#   target statistics (balance check before any model training).
# * bullwhip effect — order-vs-shipment variance amplification, the
#   classic supply-chain signal-distortion diagnostic.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.operators import dedup as D
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_CV_K = 5



@register(
    "feature_cv_folds",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS target
      FROM orders GROUP BY o_custkey
    ),
    folds AS (
      SELECT o_custkey, target,
             ('0x' || substr(md5('cv:' || o_custkey), 1, 8))::BIGINT
               % {_CV_K} AS fold
      FROM spend
    )
    SELECT CAST(fold AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(target), 2) AS mean_target,
           ROUND(STDDEV_SAMP(target), 2) AS std_target
    FROM folds GROUP BY fold
    """,
)
def feature_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5(entity) mod 5 at the CUSTOMER grain — hashing the entity, not
    the row, is what prevents the same customer leaking across folds
    (the grouped-CV rule). Per-fold target mean/std is the balance
    check run before any training: folds whose target distributions
    diverge flag a hash or grain mistake. md5-pinned, so assignment
    is reproducible everywhere, including by the oracle.

    Shape: one fact reduce to entity grain, one O(K) rollup."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("target"))
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cv:"), F.col("o_custkey"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CV_K
    )
    return (
        spend.select(fold.cast("int").alias("fold"), "target")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("target"), 2).alias("mean_target"),
            F.round(F.stddev_samp("target"), 2).alias("std_target"),
        )
    )


# ========================================================================
# from analytics_extras54.py — original batch rationale:
# Analytics extras, batch 54: full Lloyd k-means rounds, Monte
# Carlo simulation, and honest train/eval LM perplexity.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * k-means Lloyd rounds — 3 full assignment+update iterations over
#   the 64-dim embeddings with QUANTIZED centroids (round-6 after
#   each update) so both engines walk bit-identical trajectories;
#   completes the clustering family: `ml_kmeans_plusplus_seeding`
#   (init) -> this (iterate) -> `embedding_cluster_silhouette` (eval).
# * Monte Carlo revenue — 64 md5-determinized Box-Muller paths of
#   30-day demand, P5/P50/P95 of the terminal value: the simulation
#   sibling of the Poisson bootstrap.
# * train/eval perplexity — add-one bigram LM trained on half the
#   corpus, perplexity measured on the OTHER half with OOV->UNK (the
#   held-out measurement `text_bigram_surprisal` does in-sample).
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_KM_K = 4


_KM_ROUNDS = 3


_KM_DIM = 64


def _km_oracle() -> str:
    rounds = []
    prev = "c0"
    for r in range(1, _KM_ROUNDS + 1):
        rounds.append(f"""asg{r} AS MATERIALIZED (
      SELECT e.vec_id, e.x,
             (SELECT c.cl FROM {prev} c
              ORDER BY list_dot_product(e.x, e.x)
                       - 2 * list_dot_product(e.x, c.cx)
                       + list_dot_product(c.cx, c.cx), c.cl
              LIMIT 1) AS cl
      FROM e
    ),
    c{r} AS MATERIALIZED (
      SELECT cl,
             list_transform(range(1, {_KM_DIM} + 1),
                            d -> ROUND(AVG_d.avs[d], 6)) AS cx
      FROM (
        SELECT cl,
               list(av ORDER BY d) AS avs
        FROM (
          SELECT cl, d.d AS d, AVG(x[d.d]) AS av
          FROM asg{r}, UNNEST(range(1, {_KM_DIM} + 1)) AS d(d)
          GROUP BY cl, d.d
        ) GROUP BY cl
      ) AVG_d
    )""")
        prev = f"c{r}"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT vec_id AS cl, x AS cx FROM e WHERE vec_id < {_KM_K}
    ),
    {",".join(rounds)},
    final_asg AS (
      SELECT a.vec_id, a.cl,
             list_dot_product(a.x, a.x)
             - 2 * list_dot_product(a.x, c.cx)
             + list_dot_product(c.cx, c.cx) AS d2
      FROM (
        SELECT e.vec_id, e.x,
               (SELECT c.cl FROM c{_KM_ROUNDS} c
                ORDER BY list_dot_product(e.x, e.x)
                         - 2 * list_dot_product(e.x, c.cx)
                         + list_dot_product(c.cx, c.cx), c.cl
                LIMIT 1) AS cl
        FROM e
      ) a JOIN c{_KM_ROUNDS} c ON c.cl = a.cl
    )
    SELECT CAST(cl AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(d2), 4) AS within_sse
    FROM final_asg GROUP BY cl
    """



@register("ml_kmeans_lloyd_rounds", oracle=_km_oracle())
def ml_kmeans_lloyd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations of k-means (k=4) over the 64-dim
    embeddings, run entirely relationally: assignment is an argmin
    over k broadcast centroids (distance via the expanded
    ||x||^2 - 2<x,c> + ||c||^2 form — one dot product against each
    center, no explode); the update re-averages every dimension via
    posexplode -> (cluster, dim) means -> re-packed arrays. Centroids
    are QUANTIZED to 6 decimals after each update, which pins the
    whole trajectory bit-identically across engines (un-quantized
    averages drift in the last bit with partial-sum order, and one
    flipped assignment diverges every later round). Output: final
    cluster sizes and within-cluster SSE — the convergence-monitoring
    numbers.

    Scale: per round, assignment is a NARROW scan with k dot products
    per row — the argmin runs in-row over a packed centroid array
    (operators/packed.py, r13: ``array_min`` over (d2, cl) structs IS
    the ``ORDER BY d2, cl`` window winner), so no N×k-row window
    exchange; the update posexplodes dims in-stage (narrow) and its
    (cl, d) hash aggregate partial-aggregates map-side, so the update
    shuffle carries O(k·d) cells per map partition, never N·d rows
    (r13 measured the 64-separate-avg-columns alternative 2x slower
    locally — wide-aggregate codegen — for the same shuffle bytes).
    Rounds chain with lazy checkpoints, exactly the
    iterative-algorithm pattern of `graph_pagerank_nations`."""
    from hivetomysql_spark.operators.packed import attach_packed, pack_structs

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    ).localCheckpoint(eager=False)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    centers = e.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cl"), F.col("x").alias("cx")
    )

    def assign(cdf):
        j = attach_packed(e, pack_structs(cdf, "cl", "cx"))
        scored = F.transform(
            F.col("cs"),
            lambda c: F.struct(
                (
                    dot(F.col("x"), F.col("x"))
                    - 2 * dot(F.col("x"), c["cx"])
                    + dot(c["cx"], c["cx"])
                ).alias("d2"),
                c["cl"].alias("cl"),
            ),
        )
        # b referenced twice below — CollapseProject keeps
        # multi-referenced aliases un-inlined: k-way scoring runs once
        return j.select(
            "vec_id", "x", F.array_min(scored).alias("b")
        ).select("vec_id", "x", F.col("b.cl").alias("cl"), F.col("b.d2").alias("d2"))

    for _ in range(_KM_ROUNDS):
        asg = assign(centers)
        dims = asg.select(
            "cl", F.posexplode("x").alias("d", "v")
        ).groupBy("cl", "d").agg(F.round(F.avg("v"), 6).alias("av"))
        centers = (
            dims.groupBy("cl")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "av"))),
                    lambda s: s["av"],
                ).alias("cx")
            )
            .localCheckpoint(eager=False)
        )
    final = assign(centers)
    return final.groupBy(F.col("cl").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("d2"), 4).alias("within_sse"),
    )


# ========================================================================
# from analytics_extras57.py — original batch rationale:
# Analytics extras, batch 57: lag-feature construction, synthetic
# independence gap, spectral periodicity, and mergeable variance.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * lag matrix — the supervised feature table for forecasting
#   (t-1/t-7 lags, 7-day rolling mean, DOW) built leakage-free from
#   strictly-past windows.
# * synthetic independence gap — TVD between the real joint
#   distribution and the product of its marginals: exactly what a
#   marginals-only synthetic data release would lose.
# * periodogram — explicit cos/sin power at candidate periods over
#   the daily series; finds the weekly cycle spectrally.
# * two-level variance merge — Chan's parallel moments merge computed
#   EXPLICITLY from per-shard (n, mean, M2) and proven equal to the
#   direct variance: the algebra that makes every var/std in this
#   registry safe under any partitioning.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_lag_matrix",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    feat AS (
      SELECT d, y,
             LAG(y, 1) OVER (ORDER BY d) AS lag_1,
             LAG(y, 7) OVER (ORDER BY d) AS lag_7,
             AVG(y) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                          AND 1 PRECEDING) AS roll7_mean,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                            AND 1 PRECEDING) AS wn,
             CAST(ISODOW(d) AS INT) AS dow
      FROM daily
    )
    SELECT d AS day, y AS target, lag_1, lag_7,
           ROUND(roll7_mean, 4) AS roll7_mean, dow
    FROM feat
    WHERE lag_7 IS NOT NULL AND wn = 7
    """,
)
def feature_lag_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised lag-feature matrix for daily-demand forecasting:
    target y(t) with strictly-past features — lag-1, lag-7, the
    trailing 7-day mean (window ends at t-1: using ROWS ... AND
    CURRENT ROW here would leak the label into its own feature, the
    classic forecasting bug), and ISO day-of-week. Rows without a
    full history are dropped rather than null-filled, so a model
    trains on honest features only. This is the table every
    `timeseries_*` forecaster in the registry would train against.

    Shape: one reduce to O(days); lags and the trailing mean are
    one window pass over the reduced series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w = Window.orderBy("d")
    wtrail = Window.orderBy("d").rowsBetween(-7, -1)
    feat = daily.select(
        "d",
        "y",
        F.lag("y", 1).over(w).alias("lag_1"),
        F.lag("y", 7).over(w).alias("lag_7"),
        F.avg("y").over(wtrail).alias("roll7_mean"),
        F.count(F.lit(1)).over(wtrail).alias("wn"),
        (((F.dayofweek("d") + 5) % 7) + 1).alias("dow"),
    )
    return feat.where(
        F.col("lag_7").isNotNull() & (F.col("wn") == 7)
    ).select(
        F.col("d").alias("day"),
        F.col("y").alias("target"),
        "lag_1",
        "lag_7",
        F.round("roll7_mean", 4).alias("roll7_mean"),
        "dow",
    )


# ========================================================================
# from analytics_extras58.py — original batch rationale:
# Analytics extras, batch 58: bandit allocation, count-model
# goodness of fit, and the parallel-trends check.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Thompson allocation — P(arm is best) via md5-determinized Beta
#   posterior draws per event-type arm: the allocation table a bandit
#   serves from, extending `stats_bayesian_ab`'s two-arm posterior to
#   the k-arm decision.
# * Poisson GOF — items-per-order dispersion index and chi-square fit
#   against the Poisson hypothesis: the test that says whether a
#   count model (or the `stats_poisson_rate_test` machinery) applies.
# * parallel trends — pre-period slope gap between treatment proxies,
#   the validity check `event_diff_in_diff` silently assumes.
# ========================================================================
import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_TS_DRAWS = 64


def _beta_draw_sql(tag: str, alpha: str, beta: str) -> str:
    """Approximate Beta(a,b) draw via the Wilson-Hilferty-style
    normal approximation: mean + z * sqrt(var), clamped to (0,1) —
    adequate for posterior-probability ESTIMATION at these counts
    (a,b in the hundreds) and exactly reproducible on both engines.
    z is Box-Muller from md5-derived uniforms."""
    u1 = (
        f"(('0x' || substr(md5({tag} || ':u1:' || d.d), 1, 8))::BIGINT + 0.5)"
        " / 4294967296.0"
    )
    u2 = (
        f"(('0x' || substr(md5({tag} || ':u2:' || d.d), 1, 8))::BIGINT + 0.5)"
        " / 4294967296.0"
    )
    a, b = alpha, beta
    mean = f"({a} * 1.0 / ({a} + {b}))"
    var = f"({a} * 1.0 * {b} / (({a} + {b}) * ({a} + {b}) * ({a} + {b} + 1)))"
    z = f"(SQRT(-2.0 * LN({u1})) * COS(2.0 * PI() * {u2}))"
    return (
        f"LEAST(GREATEST({mean} + {z} * SQRT({var}), 1e-9), 1.0 - 1e-9)"
    )



@register(
    "ml_thompson_sampling_allocation",
    oracle=f"""
    WITH arms AS (
      SELECT event_type,
             1 + SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS a,
             1 + SUM(CASE WHEN value > 50 THEN 0 ELSE 1 END) AS b,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    ),
    draws AS (
      SELECT arms.event_type, arms.n, arms.a, arms.b, d.d,
             {_beta_draw_sql("arms.event_type", "arms.a", "arms.b")} AS x
      FROM arms, UNNEST(range(0, {_TS_DRAWS})) AS d(d)
    ),
    winners AS (
      SELECT d, event_type,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY x DESC, event_type) AS rnk
      FROM draws
    ),
    wins AS (
      SELECT event_type, COUNT(*) AS w
      FROM winners WHERE rnk = 1 GROUP BY event_type
    )
    SELECT arms.event_type,
           CAST(arms.n AS BIGINT) AS n_obs,
           ROUND(arms.a * 1.0 / (arms.a + arms.b), 4) AS posterior_mean,
           CAST(COALESCE(wins.w, 0) AS BIGINT) AS n_wins,
           ROUND(COALESCE(wins.w, 0) * 1.0 / {_TS_DRAWS}, 4) AS allocation
    FROM arms LEFT JOIN wins ON wins.event_type = arms.event_type
    """,
)
def ml_thompson_sampling_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thompson-sampling allocation across k arms (event types, with
    'value > 50' as the success proxy): Beta(1+s, 1+f) posteriors,
    64 md5-determinized posterior draws per arm, allocation = share
    of draws where the arm wins — the table a bandit routes traffic
    from, generalizing `stats_bayesian_ab`'s pairwise P(A beats B)
    to the k-arm decision. Draws use the normal approximation to the
    Beta (counts are in the hundreds, where it is excellent) so the
    mechanism is engine-reproducible and fully oracled; production
    swaps a seeded sampler, nothing else changes.

    Shape: one conditional-aggregate scan to O(arms); the draw table
    is arms x 64 rows; argmax per draw is an O(arms) window."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("event_type").agg(
        (1 + F.sum((F.col("value") > 50).cast("long"))).alias("a"),
        (1 + F.sum((F.col("value") <= 50).cast("long"))).alias("b"),
        F.count(F.lit(1)).alias("n"),
    )
    grid = arms.crossJoin(
        F.broadcast(spark.range(_TS_DRAWS).select(F.col("id").alias("d")))
    )

    def unif(part: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_type"),
                            F.lit(f":{part}:"),
                            F.col("d").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            + 0.5
        ) / 4294967296.0

    mean = F.col("a") * 1.0 / (F.col("a") + F.col("b"))
    var = (
        F.col("a")
        * 1.0
        * F.col("b")
        / (
            (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b") + 1)
        )
    )
    z = F.sqrt(-2.0 * F.log(unif("u1"))) * F.cos(
        2.0 * F.lit(float(math.pi)) * unif("u2")
    )
    x = F.least(
        F.greatest(mean + z * F.sqrt(var), F.lit(1e-9)), F.lit(1.0 - 1e-9)
    )
    draws = grid.select("event_type", "n", "a", "b", "d", x.alias("x"))
    winners = draws.select(
        "d",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("d").orderBy(F.desc("x"), "event_type"))
        .alias("rnk"),
    ).where(F.col("rnk") == 1)
    wins = winners.groupBy("event_type").agg(F.count(F.lit(1)).alias("w"))
    return (
        arms.join(wins, "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_obs"),
            F.round(mean, 4).alias("posterior_mean"),
            F.coalesce(F.col("w"), F.lit(0)).cast("long").alias("n_wins"),
            F.round(
                F.coalesce(F.col("w"), F.lit(0)) * 1.0 / _TS_DRAWS, 4
            ).alias("allocation"),
        )
    )


# ========================================================================
# from analytics_extras61.py — original batch rationale:
# Analytics extras, batch 61: parametric survival, re-identification
# risk, and rare-combination screening.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Weibull fit — parametric survival of order fulfillment via the
#   log-log linearization of the empirical survivor function (the
#   parametric sibling of `stats_kaplan_meier`; shape k tells
#   wear-out from infant-mortality).
# * re-identification risk — sample uniqueness under growing
#   quasi-identifier sets: the % of records unique on the QI combo,
#   the standard re-id risk proxy (k-anonymity's dual: k-anon bounds
#   the worst group, uniqueness measures the typical exposure).
# * rare-combination screen — category pairs whose joint support is
#   far below what their marginals predict: data-entry and fraud
#   signal that pure frequency screens miss.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "ml_weibull_survival_fit",
    oracle="""
    WITH durations AS (
      SELECT o.o_orderkey,
             date_diff('day', o.o_orderdate, MAX(l.l_shipdate)) AS dur
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
      HAVING date_diff('day', o.o_orderdate, MAX(l.l_shipdate)) >= 1
    ),
    surv AS (
      SELECT dur, COUNT(*) AS n_at,
             SUM(COUNT(*)) OVER (ORDER BY dur DESC) AS n_ge,
             SUM(COUNT(*)) OVER () AS n
      FROM durations GROUP BY dur
    ),
    pts AS (
      -- S(t) = P(T >= t); drop S in {1, smallest} tails where the
      -- log-log transform degenerates
      SELECT LN(CAST(dur AS DOUBLE)) AS x,
             LN(-LN(n_ge * 1.0 / n)) AS y
      FROM surv WHERE n_ge < n AND n_ge > 5
    ),
    ols AS (
      SELECT COUNT(*) AS npts,
             (SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
             / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)) AS k,
             AVG(y) AS my, AVG(x) AS mx
      FROM pts
    )
    SELECT CAST((SELECT COUNT(*) FROM durations) AS BIGINT) AS n_orders,
           CAST(npts AS BIGINT) AS n_fit_points,
           ROUND(k, 4) AS shape_k,
           ROUND(EXP(mx - my / k), 4) AS scale_lambda,
           k > 1.0 AS wear_out_regime
    FROM ols
    """,
)
def ml_weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric Weibull fit of order-fulfillment durations via the
    classic linearization: if T ~ Weibull(k, lambda) then
    ln(-ln S(t)) = k ln t - k ln lambda, so one closed-form OLS over
    the empirical survivor curve yields shape and scale. Shape k > 1
    means hazard RISES with age (wear-out: old open orders are ever
    more likely to close), k < 1 infant mortality — the distributional
    claim `stats_kaplan_meier`'s nonparametric curve cannot make, and
    the generator behind parametric SLA forecasts.

    Shape: durations reduce per order, the survivor curve per
    distinct duration (O(distinct t) rows), one OLS aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    durations = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("shipped"))
        .select(
            F.datediff("shipped", "o_orderdate").alias("dur")
        )
        .where(F.col("dur") >= 1)
        .localCheckpoint(eager=False)
    )
    surv = durations.groupBy("dur").agg(F.count(F.lit(1)).alias("n_at"))
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = surv.select(
        "dur",
        F.sum("n_at").over(w_desc).alias("n_ge"),
        F.sum("n_at").over(w_all).alias("n"),
    )
    pts = curve.where(
        (F.col("n_ge") < F.col("n")) & (F.col("n_ge") > 5)
    ).select(
        F.log(F.col("dur").cast("double")).alias("x"),
        F.log(-F.log(F.col("n_ge") * 1.0 / F.col("n"))).alias("y"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("npts"),
        (
            (
                F.sum(F.col("x") * F.col("y"))
                - F.count(F.lit(1)) * F.avg("x") * F.avg("y")
            )
            / (
                F.sum(F.col("x") * F.col("x"))
                - F.count(F.lit(1)) * F.avg("x") * F.avg("x")
            )
        ).alias("k"),
        F.avg("y").alias("my"),
        F.avg("x").alias("mx"),
    )
    n_orders = durations.agg(F.count(F.lit(1)).alias("no"))
    return ols.crossJoin(F.broadcast(n_orders)).select(
        F.col("no").cast("long").alias("n_orders"),
        F.col("npts").cast("long").alias("n_fit_points"),
        F.round("k", 4).alias("shape_k"),
        F.round(F.exp(F.col("mx") - F.col("my") / F.col("k")), 4).alias(
            "scale_lambda"
        ),
        (F.col("k") > 1.0).alias("wear_out_regime"),
    )


# ========================================================================
# from analytics_extras69.py — original batch rationale:
# Analytics extras, batch 69: SRM guardrail and timestamp sanity.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * SRM check — sample-ratio-mismatch chi-square per metric slice:
#   the first guardrail every experimentation platform runs (a
#   biased assignment invalidates every downstream test in this
#   registry's A/B family before any effect is read).
# * timestamp sanity — future timestamps, implausibly-old rows, and
#   id-vs-time ordering inversions: the ingest-time clock audit that
#   catches producer clock skew and replayed backfills.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "ml_ab_srm_check",
    oracle="""
    WITH counts AS (
      SELECT event_type,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(n_a * 1.0 / (n_a + n_b), 6) AS share_a,
           ROUND(POW(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                 + POW(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0),
                 4) AS chi_square,
           POW(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
           + POW(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
             > 3.84 AS srm_flag
    FROM counts
    """,
)
def ml_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-square of observed A/B
    assignment counts against the designed 50/50 split, per metric
    slice — the FIRST check an experimentation platform runs,
    because a biased assignment (broken hash, bot filter applied to
    one arm, logging loss) silently invalidates every Welch/TOST/
    Bayesian readout downstream of it in this registry. Flag at the
    1-df 5% critical value (3.84); on the fixtures' modulo split the
    flags correctly stay false.

    Shape: one conditional-aggregate scan to O(slices), scalar
    math."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    counts = ev.groupBy("event_type").agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum((~a).cast("long")).alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    exp = n / 2.0
    chi = (
        F.pow(F.col("n_a") - exp, 2) / exp
        + F.pow(F.col("n_b") - exp, 2) / exp
    )
    return counts.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("n_a") * 1.0 / n, 6).alias("share_a"),
        F.round(chi, 4).alias("chi_square"),
        (chi > 3.84).alias("srm_flag"),
    )


# ========================================================================
# from analytics_extras78.py — original batch rationale:
# Analytics extras, batch 78: min-max feature scaling.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); SURVEY.md §2.2 extension-tier entry:
#
# * min-max scaling — per-group [0,1] rescaling of customer spend:
#   the remaining classic feature scaler next to the registry's
#   z-score (`groupedmap_zscore`), quantile
#   (`feature_quantile_binning`), NTILE (`feature_ntile_binning`),
#   and whitening (`embedding_standardize_dims`) tiers; min-max is
#   what bounded-input models (neural nets, distance metrics over
#   mixed units) actually consume.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "feature_minmax_scaling",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    scaled AS (
      SELECT nationkey, o_custkey, cents,
             MIN(cents) OVER (PARTITION BY nationkey) AS mn,
             MAX(cents) OVER (PARTITION BY nationkey) AS mx
      FROM spend
    )
    SELECT nationkey, o_custkey,
           CAST(cents AS BIGINT) AS spend_cents,
           ROUND((cents - mn) * 1.0 / (mx - mn), 6) AS minmax_scaled
    FROM scaled
    WHERE nationkey < 5 AND mx > mn
    """,
)
def feature_minmax_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling of customer spend WITHIN each nation:
    (x - min)/(max - min) onto [0, 1] — the bounded-range scaler
    that distance-based models and neural inputs consume (z-scores
    are unbounded; quantiles destroy spacing). Spend travels as
    integer cents so min/max/differences are exact; only the final
    ratio is floating point. Degenerate groups (max = min) are
    excluded rather than emitting 0/0 — the correctness detail naive
    pipelines NaN on. Output limited to five nations to keep the
    gate row count bounded.

    Shape: one fact reduce to customer grain, then the per-nation
    extremes as an AGGREGATE joined back — not an unordered window:
    nationkey is bounded (25 values), so MIN/MAX OVER (PARTITION BY
    nationkey) funnels N/25 customer rows through one window task
    per nation (r11 window audit), while the groupBy form gets
    map-side partials and a 25-row frame AQE broadcasts back."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    extremes = spend.groupBy("nationkey").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    # null-safe like the window form it replaces (PARTITION BY treats
    # a NULL group as a regular partition; a name-list join drops it)
    from hivetomysql_spark.operators.ranks import join_back

    scaled = join_back(spend, extremes, ["nationkey"], []).select(
        "nationkey", "o_custkey", "cents", "mn", "mx"
    )
    return scaled.where(
        (F.col("nationkey") < 5) & (F.col("mx") > F.col("mn"))
    ).select(
        "nationkey",
        "o_custkey",
        F.col("cents").cast("long").alias("spend_cents"),
        F.round(
            (F.col("cents") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn")),
            6,
        ).alias("minmax_scaled"),
    )
