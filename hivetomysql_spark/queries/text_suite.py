"""Text analytics suite.

Folded from the round-build batch modules (analytics_extras*): every
query whose name matches this domain moved here verbatim together
with its batch-local helpers, so related operators read side by side.
Section banners record the source batch; helpers shared across
domains were duplicated module-private; colliding private names carry
a _b<batch> suffix.
"""

from __future__ import annotations



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
    "text_bigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    big AS (
      SELECT doc_id, tk[g] AS w1, tk[g+1] AS w2
      FROM toks, generate_series(1, 100000) AS gs(g) WHERE g < len(tk)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    uc AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM bc),
    scored AS (
      SELECT b.doc_id, LN((bc.c2 + 1.0) / (uc.c1 + v.vocab)) AS lp
      FROM big b JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
      JOIN uc ON b.w1 = uc.w1 CROSS JOIN v
    )
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           ROUND(AVG(-lp), 6) AS mean_surprisal,
           ROUND(MIN(-lp), 6) AS min_surprisal,
           ROUND(MAX(-lp), 6) AS max_surprisal
    FROM scored
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal over the corpus: train add-one-smoothed
    bigram probabilities on the corpus itself, score every bigram
    occurrence, report corpus-level surprisal stats — the quality
    proxy one order up from `text_lm_unigram_score`.

    Scale shape: bigrams are a scan-stage transform (posexplode of
    adjacent token pairs). One shuffle builds the bigram count table;
    unigram context counts derive from it (O(vocab²) input, not
    O(data)); vocab is a scalar broadcast. The score join keys on the
    bigram — occurrences and counts co-partition on the same key, so
    training and scoring share one exchange layout. At 100 TB the
    count model is the only state and it is vocabulary-, not
    corpus-, sized.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.split("text", " ").alias("tk"))
    big = tk.select(
        "doc_id",
        F.posexplode(F.slice("tk", 1, F.size("tk") - 1)).alias("pos", "w1"),
        "tk",
    ).select(
        "doc_id", "w1", F.expr("tk[pos + 1]").alias("w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = bc.agg(F.countDistinct("w2").alias("vocab"))
    scored = (
        big.join(bc, ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vocab"))).alias(
                "lp"
            ),
        )
    )
    return scored.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.avg(-F.col("lp")), 6).alias("mean_surprisal"),
        F.round(F.min(-F.col("lp")), 6).alias("min_surprisal"),
        F.round(F.max(-F.col("lp")), 6).alias("max_surprisal"),
    )


# ========================================================================
# from analytics_extras17.py — original batch rationale:
# Analytics extras, batch 17: SQL UDFs, parameterized dynamic SQL,
# and boilerplate detection.
#
# Not in the reference (`HiveToMysql.java:1-641` generates only static
# `SELECT *` / `DELETE` / `INSERT` text); extends SURVEY.md §2.2's
# function-surface / corpus-curation tiers with Spark 4 SQL-language
# features and a C4-style cleaning pass:
#
# * SQL UDF — CREATE TEMPORARY FUNCTION ... RETURN <expr> (Spark 4
#   SQL-defined scalar functions: named, reusable, and still fully
#   Catalyst-optimized — they inline into the plan, unlike Python
#   UDFs);
# * EXECUTE IMMEDIATE — parameterized dynamic SQL, the safe
#   string-free version of the reference's hand-assembled statements;
# * boilerplate ratio — cross-document frequent-shingle share per doc
#   (the template/ToS-removal signal in web-corpus cleaning).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table
from hivetomysql_spark.tables import register_views


_BP_MIN_DOCS = 3



@register(
    "text_boilerplate_ratio",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             regexp_split_to_array(lower(text), '[^a-z]+') AS l
      FROM documents
    ),
    idx AS (
      SELECT doc_id, i, l[i] AS tok
      FROM raw, UNNEST(range(1, len(l) + 1)) t(i)
    ),
    toks AS (
      SELECT doc_id, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS pos
      FROM idx WHERE tok <> ''
    ),
    sh AS (
      SELECT a.doc_id, a.pos,
             a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' '
               || e.tok AS shingle
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      JOIN toks d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
      JOIN toks e ON e.doc_id = a.doc_id AND e.pos = a.pos + 4
    ),
    df AS (
      SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs
      FROM sh GROUP BY shingle
    ),
    flagged AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN df.n_docs >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
               AS n_boiler
      FROM sh s JOIN df ON df.shingle = s.shingle
      GROUP BY s.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_boiler AS BIGINT) AS n_boilerplate,
           ROUND(n_boiler * 1.0 / n_shingles, 4) AS boilerplate_ratio
    FROM flagged
    """,
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate share per document: 5-token shingles that
    appear in >= 3 distinct documents are boilerplate (navigation,
    ToS, generated templates — the stuff C4-style cleaning strips
    before training), and each doc reports what fraction of its
    shingles is boilerplate. Complements dedup (whole/near-document)
    and span dedup (within-corpus repeats) with the
    cross-document-frequent-PHRASE signal.

    Shape: shingles form in a per-doc window (no join needed on the
    Spark side — the SQL oracle's self-joins are the declarative
    equivalent); document frequency is one grouped count; the
    per-doc rollup joins doc shingles to the df table on the shingle
    hash. At 100 TB hash the shingle (xxhash64) before the df
    groupBy so the shuffle carries 8 bytes, not strings."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias("i", "tok"),
    ).where(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("i")
    sh = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ",
                "tok",
                F.lead("tok", 1).over(w),
                F.lead("tok", 2).over(w),
                F.lead("tok", 3).over(w),
                F.lead("tok", 4).over(w),
            ).alias("shingle"),
            F.lead("tok", 4).over(w).alias("last_tok"),
        )
        .where(F.col("last_tok").isNotNull())
        .drop("last_tok")
    )
    df_tab = sh.groupBy("shingle").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = sh.join(df_tab, "shingle").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(
            F.when(F.col("n_docs") >= _BP_MIN_DOCS, 1).otherwise(0)
        ).alias("n_boiler"),
    )
    return flagged.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_boiler").cast("long").alias("n_boilerplate"),
        F.round(F.col("n_boiler") / F.col("n_shingles"), 4).alias(
            "boilerplate_ratio"
        ),
    )


# ========================================================================
# from analytics_extras19.py — original batch rationale:
# Analytics extras, batch 19: classifier evaluation, promo lift,
# supplier concentration, and character entropy.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); extends SURVEY.md §2.2's evaluation / business-analytics /
# text tiers:
#
# * langid confusion — declared-vs-predicted label matrix + accuracy
#   for the text_langid classifier (models need scoreboards, not just
#   predictions);
# * promo-day lift — first-of-month revenue vs same-day-of-week
#   baseline, the seasonally-controlled lift read;
# * supplier HHI — Herfindahl-Hirschman concentration of supplier
#   revenue within each brand, the supply-chain-risk index;
# * char entropy — per-document character-distribution entropy, the
#   cheapest corrupted/low-quality-text screen.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.queries.llm import _langid_oracle
from hivetomysql_spark.operators import text as T
from hivetomysql_spark.tables import load_table



@register(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS ({_langid_oracle()})
    SELECT lang_declared,
           lang_predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 4) AS share
    FROM pred
    GROUP BY lang_declared, lang_predicted
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the function-word language classifier:
    declared label (the documents.lang column) against text_langid's
    prediction, with each cell's corpus share — the scoreboard that
    turns a classifier stage into a measurable one (per-language
    recall falls out of the rows; the diagonal mass is accuracy).

    Shape: reuses the langid projection (one scan, JVM-side
    filter/size votes) and rolls up to an O(langs^2) matrix."""
    docs = load_table(spark, sf_dir, "documents")
    pred = T.language_id(docs, "doc_id", "text")
    cells = pred.groupBy("lang_declared", "lang_predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_all = Window.partitionBy()
    return cells.select(
        "lang_declared",
        "lang_predicted",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("n") / F.sum("n").over(w_all), 4).alias("share"),
    )



@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM documents, UNNEST(range(1, length(text) + 1)) t(i)
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
      FROM freq GROUP BY doc_id
    )
    SELECT f.doc_id,
           CAST(MIN(t.n) AS BIGINT) AS n_chars,
           CAST(MIN(t.n_distinct) AS BIGINT) AS n_distinct_chars,
           ROUND(-SUM((f.c * 1.0 / t.n) * ln(f.c * 1.0 / t.n)), 4)
             AS char_entropy_nats
    FROM freq f JOIN tot t ON t.doc_id = f.doc_id
    GROUP BY f.doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    cheapest corrupted-text screen: binary junk decoded as text shows
    near-uniform bytes (high entropy), template/repeated filler shows
    abnormally low entropy, and natural language sits in a tight band
    in between. Pairs with text_compression_quality (which estimates
    the same signal via compressibility, rows-only) as the oracled
    member of the family.

    Shape: explode to characters, two grouped passes — the
    (doc, char) key space is bounded by docs x alphabet."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select("doc_id", F.expr("substring(text, i, 1)").alias("ch"))
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    j = freq.join(tot, "doc_id")
    p = F.col("c") / F.col("n")
    return j.groupBy("doc_id").agg(
        F.min("n").cast("long").alias("n_chars"),
        F.min("n_distinct").cast("long").alias("n_distinct_chars"),
        F.round(-F.sum(p * F.log(p)), 4).alias("char_entropy_nats"),
    )


# ========================================================================
# from analytics_extras20.py — original batch rationale:
# Analytics extras, batch 20: new-vs-returning revenue and Heaps'
# law vocabulary growth.
#
# Not in the reference (`HiveToMysql.java:1-641` copies rows, computes
# nothing); closes out SURVEY.md §2.2's business-analytics / corpus-
# statistics tiers for this round:
#
# * revenue split — monthly revenue decomposed into new-customer vs
#   returning-customer money, the acquisition-vs-retention P&L view;
# * Heaps' law — vocabulary growth V(n) ~ K n^beta fitted by log-log
#   OLS over token-stream checkpoints, the corpus-scaling diagnostic
#   that predicts vocabulary (and tokenizer) size at 100x the data.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_HEAPS_CHECKPOINTS = 10



@register(
    "text_heaps_law",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    toks AS (
      SELECT doc_id, i, l[i] AS tok
      FROM raw, UNNEST(range(1, len(l) + 1)) t(i)
    ),
    ordered AS (
      SELECT tok,
             ROW_NUMBER() OVER (ORDER BY doc_id, i) AS pos
      FROM toks
    ),
    firsts AS (
      SELECT tok, MIN(pos) AS first_pos FROM ordered GROUP BY tok
    ),
    n_total AS (SELECT MAX(pos) AS n FROM ordered),
    cps AS (
      SELECT CAST(FLOOR(n_total.n * k / {_HEAPS_CHECKPOINTS}.0) AS BIGINT)
               AS cp
      FROM n_total, UNNEST(range(1, {_HEAPS_CHECKPOINTS} + 1)) t(k)
    ),
    curve AS (
      SELECT cps.cp AS n_tokens,
             (SELECT COUNT(*) FROM firsts WHERE firsts.first_pos <= cps.cp)
               AS vocab
      FROM cps
    ),
    fit AS (
      SELECT COUNT(*) AS k,
             AVG(ln(n_tokens * 1.0)) AS mx,
             AVG(ln(vocab * 1.0)) AS my,
             COVAR_SAMP(ln(n_tokens * 1.0), ln(vocab * 1.0)) AS cxy,
             VAR_SAMP(ln(n_tokens * 1.0)) AS vx
      FROM curve
    )
    SELECT CAST((SELECT MAX(n_tokens) FROM curve) AS BIGINT) AS n_tokens,
           CAST((SELECT MAX(vocab) FROM curve) AS BIGINT) AS vocab_size,
           ROUND(cxy / vx, 4) AS heaps_beta,
           ROUND(exp(my - (cxy / vx) * mx), 2) AS heaps_k
    FROM fit
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit: vocabulary size grows as V(n) ~ K n^beta with
    the token stream; beta and K come from log-log OLS over 10
    equally-spaced checkpoints of the cumulative vocabulary curve.
    The number that predicts tokenizer/vocab growth at 100x the
    corpus (natural language sits near beta ~ 0.5; beta near 1 means
    unbounded junk vocabulary — an ingest red flag).

    Shape: the cumulative-distinct curve needs NO running distinct —
    each token type contributes at its FIRST stream position (one
    groupBy), and the checkpoint curve is 10 bounded count-filters
    over the O(vocab) firsts table; the OLS is closed-form on 10
    points. The only wide op is the position ROW_NUMBER, which at
    100 TB becomes the two-level partition-offset rank (rank within
    partition + broadcast prefix offsets)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias("i", "tok"),
    ).where(F.col("tok") != "")
    ordered = toks.select(
        "tok",
        F.row_number().over(Window.orderBy("doc_id", "i")).alias("pos"),
    )
    firsts = ordered.groupBy("tok").agg(F.min("pos").alias("first_pos"))
    n_total = ordered.agg(F.max("pos").alias("n")).collect()[0]["n"]
    cps = [
        int(n_total * k / _HEAPS_CHECKPOINTS)
        for k in range(1, _HEAPS_CHECKPOINTS + 1)
    ]
    curve = firsts.agg(
        *[
            F.sum(F.when(F.col("first_pos") <= cp, 1).otherwise(0)).alias(
                f"v{j}"
            )
            for j, cp in enumerate(cps)
        ]
    ).collect()[0]
    pts = [(float(cp), float(curve[f"v{j}"])) for j, cp in enumerate(cps)]
    import math

    k = len(pts)
    mx = sum(math.log(x) for x, _ in pts) / k
    my = sum(math.log(v) for _, v in pts) / k
    cxy = sum(
        (math.log(x) - mx) * (math.log(v) - my) for x, v in pts
    ) / (k - 1)
    vx = sum((math.log(x) - mx) ** 2 for x, _ in pts) / (k - 1)
    beta = cxy / vx
    kk = math.exp(my - beta * mx)
    return spark.range(1).select(
        F.lit(int(pts[-1][0])).cast("long").alias("n_tokens"),
        F.lit(int(pts[-1][1])).cast("long").alias("vocab_size"),
        F.round(F.lit(beta), 4).alias("heaps_beta"),
        F.round(F.lit(kk), 2).alias("heaps_k"),
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
    "text_pmi_bigrams",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), uni AS (
      SELECT unnest(w) AS tok FROM words
    ), ucount AS (
      SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok
    ), utot AS (
      SELECT SUM(n) AS t FROM ucount
    ), bi AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM words, UNNEST(generate_series(1, len(w) - 1)) AS s(i)
    ), bcount AS (
      SELECT w1, w2, COUNT(*) AS n FROM bi GROUP BY w1, w2
    ), btot AS (
      SELECT SUM(n) AS t FROM bcount
    )
    SELECT w1, w2,
           CAST(b.n AS BIGINT) AS n_pair,
           ROUND(LN((b.n * 1.0 / btot.t)
                    / ((u1.n * 1.0 / utot.t) * (u2.n * 1.0 / utot.t))), 6)
             AS pmi
    FROM bcount b
    JOIN ucount u1 ON u1.tok = b.w1
    JOIN ucount u2 ON u2.tok = b.w2
    CROSS JOIN utot CROSS JOIN btot
    WHERE b.n >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI collocations: bigram and unigram counts from one
    tokenize pass each, PMI = ln(p(ab)/(p(a)p(b))) with a min-count
    floor of 5 (the classic Church–Hanks measure — the phrase-mining
    step of a tokenizer-training pipeline). The unigram table
    broadcasts into the bigram join (vocabulary ≪ corpus); top-20 is
    a TakeOrdered, not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    )
    uni = words.select(F.explode("w").alias("tok"))
    ucount = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    utot = ucount.agg(F.sum("n").alias("t"))
    bi = words.select(
        F.explode(
            F.transform(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at("w", i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcount = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    btot = bcount.agg(F.sum("n").alias("t"))
    u1 = ucount.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = ucount.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bcount.where(F.col("n") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot.select(F.col("t").alias("ut"))))
        .crossJoin(F.broadcast(btot.select(F.col("t").alias("bt"))))
        .select(
            "w1",
            "w2",
            F.col("n").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("n") / F.col("bt"))
                    / ((F.col("n1") / F.col("ut")) * (F.col("n2") / F.col("ut")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(20)


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


_RAKE_STOP = ("the", "a", "and", "of", "to", "in")



@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i, w[i] AS tok,
             w[i] IN {_RAKE_STOP} AS is_stop
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents),
           UNNEST(generate_series(1, len(w))) AS t(i)
    ),
    isl AS (
      SELECT doc_id, i, tok, is_stop,
             SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM toks
    ),
    phrases AS (
      SELECT doc_id, island,
             array_to_string(list(tok ORDER BY i), ' ') AS phrase,
             COUNT(*) AS plen
      FROM isl WHERE NOT is_stop
      GROUP BY doc_id, island
      HAVING COUNT(*) <= 4
    ),
    word_stats AS (
      SELECT tok,
             COUNT(*) AS freq,
             SUM(plen) AS degree
      FROM (SELECT p.doc_id, p.island, p.plen, i.tok
            FROM phrases p
            JOIN isl i ON i.doc_id = p.doc_id AND i.island = p.island
            WHERE NOT i.is_stop)
      GROUP BY tok
    ),
    phrase_scores AS (
      SELECT p.phrase,
             COUNT(DISTINCT p.doc_id || '#' || p.island) AS n_occur,
             ROUND(SUM(ws.degree * 1.0 / ws.freq)
                   / COUNT(DISTINCT p.doc_id || '#' || p.island), 6)
               AS rake_score
      FROM phrases p
      JOIN isl i ON i.doc_id = p.doc_id AND i.island = p.island
                 AND NOT i.is_stop
      JOIN word_stats ws ON ws.tok = i.tok
      GROUP BY p.phrase
    )
    SELECT phrase, CAST(n_occur AS BIGINT) AS n_occur, rake_score
    FROM phrase_scores
    ORDER BY rake_score DESC, phrase
    LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), UDF-free:
    candidate phrases are maximal stopword-free token runs (≤ 4
    tokens) found by gaps-and-islands (running count of stopwords =
    island id); each word scores degree/frequency where degree sums
    the lengths of phrases containing it; a phrase scores the sum of
    its word scores (averaged over its occurrences). Top-15 phrases.

    Shape: token explosion with positions (in-row, no shuffle),
    per-doc island window, groupBy(doc, island) to materialize
    phrases, then two vocab-bounded joins — word_stats is O(vocab)
    and broadcastable; nothing after the first reduce scales with
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "i", "tok"
        ),
    ).select(
        "doc_id",
        (F.col("i") + 1).alias("i"),
        "tok",
        F.col("tok").isin(*_RAKE_STOP).alias("is_stop"),
    )
    wisl = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    isl = toks.withColumn(
        "island", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wisl)
    )
    content = isl.where(~F.col("is_stop"))
    phrases = (
        content.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .where(F.col("plen") <= 4)
    )
    members = phrases.join(
        content.select("doc_id", "island", "tok"), ["doc_id", "island"]
    )
    word_stats = members.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    phrase_scores = (
        members.join(F.broadcast(word_stats), "tok")
        .groupBy("phrase")
        .agg(
            F.countDistinct("doc_id", "island").alias("n_occur"),
            F.round(
                F.sum(F.col("degree") / F.col("freq"))
                / F.countDistinct("doc_id", "island"),
                6,
            ).alias("rake_score"),
        )
    )
    return (
        phrase_scores.select(
            "phrase", F.col("n_occur").cast("long"), "rake_score"
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(15)
    )


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
    "text_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'
             )) * 1.0 AS n_tok,
             len(string_split_regex(trim(lower(text)), '\\s+')) * 1.0
               AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_tok / n_words), 4) AS avg_fertility,
           ROUND(SUM(n_tok) / SUM(n_words), 4) AS corpus_fertility
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish subword tokens per
    whitespace word (same GPT-2-style pre-tokenizer regex as
    `text_bpe_tokens`), per-doc averaged and corpus-weighted — THE
    metric for how fairly a tokenizer treats each language (high
    fertility = more tokens per word = higher serving cost and worse
    effective context for that language; cf. multilingual tokenizer
    papers).

    Shape: two regexp counts per row in the scan stage, one
    groupBy(lang) — zero-shuffle except the O(langs) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        (F.regexp_count("text", F.lit(_BPE_REGEX)) * 1.0).alias("n_tok"),
        (F.size(F.split(F.trim(F.lower("text")), r"\s+")) * 1.0).alias(
            "n_words"
        ),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_tok") / F.col("n_words")), 4).alias(
                "avg_fertility"
            ),
            F.round(F.sum("n_tok") / F.sum("n_words"), 4).alias(
                "corpus_fertility"
            ),
        )
        .orderBy("lang")
    )


# ========================================================================
# from analytics_extras34.py — original batch rationale:
# Analytics extras, batch 34: graph partition quality, queueing
# audit, generation diversity, and local differential privacy.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * modularity — partition quality of a labeling over the co-purchase
#   graph, the community-detection objective as a closed-form query.
# * Little's law audit — L = λ·W consistency check over the order
#   flow, the queueing-theory sanity test for ops metrics.
# * distinct n-gram diversity — the distinct-1/2/3 metrics used to
#   audit generated-text (or corpus) diversity.
# * randomized response — local-DP frequency estimation with
#   md5-determinized coin flips, debiased back to true rates.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "text_distinct_ngram_diversity",
    oracle="""
    WITH words AS (
      SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    uni AS (
      SELECT source, COUNT(DISTINCT g) AS dn, COUNT(*) AS tn
      FROM (SELECT source, unnest(w) AS g FROM words) GROUP BY source
    ),
    bi AS (
      SELECT source, COUNT(DISTINCT g) AS dn, COUNT(*) AS tn
      FROM (SELECT source, array_to_string(w[i:i+1], ' ') AS g
            FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2) GROUP BY source
    ),
    tri AS (
      SELECT source, COUNT(DISTINCT g) AS dn, COUNT(*) AS tn
      FROM (SELECT source, array_to_string(w[i:i+2], ' ') AS g
            FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3) GROUP BY source
    )
    SELECT uni.source,
           ROUND(uni.dn * 1.0 / uni.tn, 6) AS distinct_1,
           ROUND(bi.dn * 1.0 / bi.tn, 6) AS distinct_2,
           ROUND(tri.dn * 1.0 / tri.tn, 6) AS distinct_3
    FROM uni
    JOIN bi ON bi.source = uni.source
    JOIN tri ON tri.source = uni.source
    ORDER BY uni.source
    """,
)
def text_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity (distinct n-grams / total n-grams for
    n=1,2,3) per source — the Li et al. 2016 "distinct" metrics used
    to audit generated-text repetitiveness, applied per corpus slice:
    a source whose distinct-2/3 collapse is a template farm (or a
    mode-collapsed generator).

    Shape: one token explosion feeding three distinct-count
    aggregates keyed on source — map-side partial distinct via
    Spark's two-phase count_distinct; everything post-explode is
    vocabulary-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once: the three n-gram passes would otherwise each
    # re-scan and re-split the corpus
    words = docs.select(
        "source", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    ).localCheckpoint()

    def grams(n: int) -> DataFrame:
        if n == 1:
            g = words.select("source", F.explode("w").alias("g"))
        else:
            g = words.where(F.size("w") >= n).select(
                "source",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n)),
                    )
                ).alias("g"),
            )
        return g.groupBy("source").agg(
            (F.countDistinct("g") * 1.0 / F.count(F.lit(1))).alias(
                f"distinct_{n}"
            )
        )

    out = (
        grams(1)
        .join(grams(2), "source")
        .join(grams(3), "source")
        .select(
            "source",
            F.round("distinct_1", 6).alias("distinct_1"),
            F.round("distinct_2", 6).alias("distinct_2"),
            F.round("distinct_3", 6).alias("distinct_3"),
        )
    )
    return out.orderBy("source")


# ========================================================================
# from analytics_extras39.py — original batch rationale:
# Analytics extras, batch 39: revenue retention, reliability
# metrics, distribution divergence, and metric-learning data prep.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * NRR / GRR — net and gross revenue retention year over year, the
#   SaaS board metrics, as two cohort aggregates.
# * MTBF / MTTR — mean time between failures and to recovery from the
#   error stream, the reliability pair under every SLO.
# * Jensen-Shannon divergence — per-source token-distribution
#   distance from the corpus, the symmetric bounded drift measure.
# * semi-hard triplet mining — the batch data-prep step of metric
#   learning (FaceNet-style): negatives inside the (d_ap, d_ap+margin)
#   band per anchor.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "text_js_divergence_sources",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    src AS (
      SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY source, tok
    ),
    src_tot AS (SELECT source, SUM(n) AS t FROM src GROUP BY source),
    corpus AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    corpus_tot AS (SELECT SUM(n) AS t FROM corpus),
    probs AS (
      SELECT s.source,
             s.n * 1.0 / st.t AS p,
             c.n * 1.0 / ct.t AS q
      FROM src s
      JOIN src_tot st ON st.source = s.source
      JOIN corpus c ON c.tok = s.tok
      CROSS JOIN corpus_tot ct
    )
    SELECT source,
           ROUND(SUM(0.5 * p * LN(2.0 * p / (p + q))
                     + 0.5 * q * LN(2.0 * q / (p + q)))
                 / LN(2.0), 6) AS js_divergence_bits
    FROM probs
    GROUP BY source
    ORDER BY source
    """,
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's unigram
    distribution and the corpus distribution — the symmetric, bounded
    [0,1] drift measure that PSI and raw KL both fail to be (KL blows
    up on missing tokens; JS never does). The per-source score ranks
    which slices least resemble the corpus mixture. (Source
    vocabularies here are subsets of the corpus vocabulary, so the
    corpus-side q term with p=0 vanishes into the shared support —
    both engines compute the same restricted sum.)

    Shape: one token explosion, two vocabulary-bounded count tables,
    one broadcast join — everything after the explode is O(vocab ·
    sources)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    src = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    src_tot = src.groupBy("source").agg(F.sum("n").alias("t"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cn"))
    corpus_tot = corpus.agg(F.sum("cn").alias("ct"))
    probs = (
        src.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "source",
            (F.col("n") * 1.0 / F.col("t")).alias("p"),
            (F.col("cn") * 1.0 / F.col("ct")).alias("q"),
        )
    )
    term = 0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))) + (
        0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
    )
    import math

    return (
        probs.groupBy("source")
        .agg(F.round(F.sum(term) / math.log(2.0), 6).alias("js_divergence_bits"))
        .orderBy("source")
    )


# ========================================================================
# from analytics_extras41.py — original batch rationale:
# Analytics extras, batch 41: seasonal smoothing, corpus
# dispersion, and embedding-space geometry.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * seasonal Holt-Winters — additive triple exponential smoothing with
#   a 7-slot day-of-week seasonal state, completing the EMA → Holt →
#   Holt-Winters smoothing family as array folds.
# * token dispersion — Gries' DP: how unevenly a token spreads across
#   corpus parts (beyond raw frequency).
# * embedding isotropy — mean pairwise cosine WITHOUT a pairwise join
#   (sufficient-statistics identity), the embedding-quality metric
#   behind "all my vectors point the same way" bugs.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "text_token_dispersion",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    part_sizes AS (
      SELECT source, COUNT(*) AS sz FROM toks GROUP BY source
    ),
    tot AS (SELECT SUM(sz) * 1.0 AS t FROM part_sizes),
    tok_part AS (
      SELECT tok, source, COUNT(*) AS n FROM toks GROUP BY tok, source
    ),
    tok_tot AS (SELECT tok, SUM(n) AS f FROM tok_part GROUP BY tok),
    dp AS (
      -- Gries' DP: 0.5 * sum over parts |expected share - observed
      -- share|; parts where the token is absent contribute their
      -- expected share
      SELECT tt.tok, tt.f,
             0.5 * SUM(ABS(ps.sz / tot.t
                           - COALESCE(tp.n, 0) * 1.0 / tt.f)) AS dp
      FROM tok_tot tt
      CROSS JOIN part_sizes ps
      CROSS JOIN tot
      LEFT JOIN tok_part tp ON tp.tok = tt.tok AND tp.source = ps.source
      GROUP BY tt.tok, tt.f
    )
    SELECT tok, CAST(f AS BIGINT) AS freq, ROUND(dp, 6) AS dispersion_dp
    FROM dp
    ORDER BY dispersion_dp DESC, tok
    LIMIT 15
    """,
)
def text_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation of proportions (DP) per token: how unevenly a
    token's occurrences spread across corpus parts (sources) relative
    to part sizes — 0 = perfectly proportional, →1 = concentrated in
    one part. Frequency alone misses this (a frequent token can live
    in one source); DP is the standard corpus-linguistics dispersion
    measure and a practical boilerplate/contamination screen. Top-15
    most-concentrated tokens.

    Shape: token explosion → two vocabulary-bounded count tables →
    a vocab × parts join (both sides tiny after the reduce) — at
    100 TB the only data-sized stage is the first count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    part_sizes = toks.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    tot = part_sizes.agg(F.sum("sz").cast("double").alias("t"))
    tok_part = toks.groupBy("tok", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    tok_tot = tok_part.groupBy("tok").agg(F.sum("n").alias("f"))
    grid = tok_tot.crossJoin(F.broadcast(part_sizes)).crossJoin(
        F.broadcast(tot)
    )
    dp = (
        grid.join(tok_part, ["tok", "source"], "left")
        .groupBy("tok", "f")
        .agg(
            (
                0.5
                * F.sum(
                    F.abs(
                        F.col("sz") / F.col("t")
                        - F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("f")
                    )
                )
            ).alias("dp")
        )
    )
    return (
        dp.select(
            "tok",
            F.col("f").cast("long").alias("freq"),
            F.round("dp", 6).alias("dispersion_dp"),
        )
        .orderBy(F.desc("dispersion_dp"), "tok")
        .limit(15)
    )


# ========================================================================
# from analytics_extras43.py — original batch rationale:
# Analytics extras, batch 43: robust estimation, information rate,
# and vocabulary richness.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * median-of-means — the heavy-tail-robust mean estimator built from
#   k bucketed means (the primitive inside robust streaming
#   estimators).
# * entropy rate — bits per transition of the event-type Markov
#   chain, the compressibility/predictability of the behavior stream.
# * hapax ratio — once-occurring vocabulary share per source, the
#   richness complement of Heaps'-law fitting.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table



@register(
    "text_hapax_ratio",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax,
           ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS hapax_ratio,
           CAST(SUM(n) AS BIGINT) AS n_tokens
    FROM counts
    GROUP BY source
    ORDER BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per source: the fraction of each slice's
    vocabulary that occurs exactly once — the vocabulary-richness
    number lexicographers and corpus auditors read next to Heaps'
    law (a closed template vocabulary, as in this fixture, shows
    hapax ≈ 0; scraped natural text runs 40-60 %, and a sudden drop
    flags boilerplate flooding).

    Shape: token explosion → (source, token) count → O(vocab)
    aggregate; vocabulary-bounded after the first reduce."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.round(
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_ratio"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .orderBy("source")
    )


# ========================================================================
# from analytics_extras46.py — original batch rationale:
# Analytics extras, batch 46: bipartite link analysis and dedup
# budget planning.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * HITS — hub (customer) / authority (part) scores on the purchase
#   bipartite graph, the other canonical link-analysis fixpoint next
#   to PageRank.
# * dedup threshold sweep — documents and tokens removed at Jaccard
#   thresholds 0.2/0.3/0.5, the table that prices a dedup policy
#   before committing the corpus build to one.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


# Invariant of the shingle explode_outer in text_dedup_threshold_sweep
# below: ``arr`` is never null or empty, because
# sequence(1, greatest(size(w) - 2, 1)) yields at least one index.
# Without it explode_outer would keep a g=NULL row whose xxhash64(NULL)
# is the seed constant: one phantom shingle shared by every such doc,
# forming spurious pairs. Keep the greatest(..., 1) floor in any
# refactor. (The note sits outside the function because its source is
# part of the sf1/sf10 certification hash.)
@register(
    "text_dedup_threshold_sweep",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
    toksz AS (
      SELECT doc_id, len(w) AS n_tok FROM words
    ),
    pairs AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT ida, idb, c * 1.0 / (sa.ns + sb.ns - c) AS j
      FROM pairs
      JOIN sizes sa ON sa.doc_id = ida
      JOIN sizes sb ON sb.doc_id = idb
    ),
    thresholds AS (SELECT UNNEST([0.2, 0.3, 0.5]::DOUBLE[]) AS thr),
    removed AS (
      -- min-id survivor policy: the larger id of every pair above
      -- threshold is removed
      SELECT t.thr, j.idb AS doc_id
      FROM thresholds t JOIN jac j ON j.j >= t.thr
      GROUP BY t.thr, j.idb
    )
    SELECT thresholds.thr AS threshold,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_docs_removed,
           CAST(COALESCE(SUM(ts.n_tok), 0) AS BIGINT) AS n_tokens_removed,
           ROUND(COALESCE(SUM(ts.n_tok), 0) * 1.0
                 / (SELECT SUM(n_tok) FROM toksz), 6) AS token_share_removed
    FROM thresholds
    LEFT JOIN removed r ON r.thr = thresholds.thr
    LEFT JOIN toksz ts ON ts.doc_id = r.doc_id
    GROUP BY thresholds.thr
    ORDER BY thresholds.thr
    """,
)
def text_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup budget sweep: documents and tokens that a min-id-survivor
    near-dup policy would remove at Jaccard thresholds 0.2 / 0.3 /
    0.5 — the table that prices a dedup policy (tokens sacrificed vs
    duplication tolerated) BEFORE the corpus build commits to one;
    run on the exact 3-gram pair table so the sweep is ground truth,
    not an LSH estimate.

    Shape: the pair table is computed ONCE (same posting-list join as
    `dedup_ngram_jaccard`) and the three thresholds are filters over
    it — sweeping costs nothing beyond the single pair
    materialization. r14: each doc's shingle-set size rides the
    posting list IN-ROW (size taken on the materialized distinct
    array before the explode — the `ngram_jaccard_pairs` layout),
    which removed the separate sizes aggregate, BOTH pair-table
    re-shuffling joins (keyed ida then idb — at sf10 they re-shuffled
    the O(pairs) table twice), and the posting-stage checkpoint that
    only existed to feed those three consumers. Measured interleaved
    min-of-3, noop: **154 s → 45 s (3.4x) at sf10**, 2.86 → 2.70 s at
    sf0.1, values bit-identical at sf0.01/sf0.1 (guide §2.3/§2.4:
    shuffle keys and in-row metadata instead of re-attaching
    payloads)."""
    from hivetomysql_spark.operators.parallelism import spread_for_compute

    docs = load_table(spark, sf_dir, "documents")
    # spread BEFORE the checkpoint: localCheckpoint preserves
    # partitioning, so a 1-split scan would pin the downstream
    # shingle build (the dominant narrow cost) to one core
    words = spread_for_compute(docs).select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    ).localCheckpoint()
    # materialize the distinct shingle array in its own projection
    # (an inlined expression would be recomputed per exploded row),
    # take n_sh in-row, THEN explode — no separate sizes pass
    sharr = words.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("w") - 2, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 3)),
            )
        ).alias("arr"),
    )
    sh = sharr.select(
        "doc_id",
        F.size("arr").alias("ns"),
        F.explode_outer("arr").alias("g"),
    ).select("doc_id", "ns", F.xxhash64("g").alias("shingle"))
    toksz = words.select("doc_id", F.size("w").alias("n_tok"))
    # posting-list pair expansion instead of the raw a×b self-join:
    # one groupBy(shingle) shuffle, then ordered pairs unfold from
    # each sorted posting array post-shuffle — the same plan shape as
    # operators/dedup.ngram_jaccard_pairs (identical pair multiset,
    # since a sorted posting list's ordered pairs ARE the ida < idb
    # join matches for that shingle). The posting structs carry
    # (doc_id, ns), so every pair emerges with BOTH sizes attached —
    # struct array_sort orders by doc_id first (ns is a function of
    # doc_id, so the sort order equals the former bare-id order).
    post = (
        sh.groupBy("shingle")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "ns"))).alias(
                "lst"
            )
        )
        .where(F.size("lst") > 1)
    )
    pair_arr = F.flatten(
        F.transform(
            "lst",
            lambda x, i: F.transform(
                F.slice("lst", i + 2, F.size("lst")),
                lambda y: F.struct(
                    x["doc_id"].alias("ida"),
                    x["ns"].alias("nsa"),
                    y["doc_id"].alias("idb"),
                    y["ns"].alias("nsb"),
                ),
            ),
        )
    )
    # explode_outer: plain explode plants a pushed size(arr) > 0
    # filter that re-evaluates the pair expansion per row (the trap
    # ngram_jaccard_pairs documents); size(lst) > 1 already
    # guarantees non-empty pair arrays
    pairs = (
        post.select(F.explode_outer(pair_arr).alias("p"))
        .select("p.ida", "p.nsa", "p.idb", "p.nsb")
        .groupBy("ida", "idb", "nsa", "nsb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = pairs.select(
        "idb",
        (F.col("c") / (F.col("nsa") + F.col("nsb") - F.col("c"))).alias("j"),
    )
    # A doc is removed at threshold t iff ANY pair reaches t, i.e. iff
    # max(j) >= t — so collapse the O(pairs) table to one jmax row per
    # doc BEFORE the sweep. The prior form localCheckpointed the raw
    # pair table (superlinear: 98x rows across the sf0.01→sf0.1 step,
    # 91 MB pinned at sf0.1 — found by tools/checkpoint_audit.py, r11)
    # and crossJoined all pairs against the thresholds; this one
    # shuffles the pairs once into a per-doc max (partial agg
    # map-side) and sweeps 3 thresholds over an O(docs) frame. Also
    # subsumes the old distinct (idb is unique after the groupBy).
    jmax = jac.groupBy("idb").agg(F.max("j").alias("jmax"))
    thr = spark.createDataFrame(
        [(0.2,), (0.3,), (0.5,)], "thr: double"
    )
    removed = (
        thr.crossJoin(jmax)
        .where(F.col("jmax") >= F.col("thr"))
        .select("thr", F.col("idb").alias("doc_id"))
    )
    tok_tot = toksz.agg(F.sum("n_tok").alias("t"))
    return (
        thr.join(removed, "thr", "left")
        .join(toksz, "doc_id", "left")
        .crossJoin(F.broadcast(tok_tot))
        .groupBy("thr")
        .agg(
            F.count("doc_id").cast("long").alias("n_docs_removed"),
            F.coalesce(F.sum("n_tok"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
            F.round(
                F.coalesce(F.sum("n_tok"), F.lit(0)) * 1.0 / F.first("t"), 6
            ).alias("token_share_removed"),
        )
        .select(
            F.col("thr").alias("threshold"),
            "n_docs_removed",
            "n_tokens_removed",
            "token_share_removed",
        )
        .orderBy("threshold")
    )


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



@register(
    "text_readability_flesch",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             len(regexp_extract_all(text, '[^ ]+')) AS words,
             len(regexp_extract_all(text, '[.!?]+')) + 1 AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
      FROM documents
    ),
    scored AS (
      SELECT source, words,
             206.835 - 1.015 * (words * 1.0 / sentences)
                     - 84.6 * (syl * 1.0 / words) AS flesch,
             0.39 * (words * 1.0 / sentences)
                   + 11.8 * (syl * 1.0 / words) - 15.59 AS fk_grade
      FROM per_doc WHERE words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(words), 4) AS avg_words,
           ROUND(AVG(flesch), 4) AS avg_flesch,
           ROUND(AVG(fk_grade), 4) AS avg_fk_grade
    FROM scored GROUP BY source
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per source: words
    and sentences via regexp token counts, syllables approximated by
    vowel-group runs ([aeiouy]+ — the standard cheap estimator) —
    all JVM-side regexp counts, no UDF. The corpus-quality signal a
    pretraining mix uses next to `text_quality`'s punctuation /
    stopword ratios: sources whose grade level drifts are flagged
    before they enter the mix.

    Scale: pure scan + one O(sources) aggregate; regexp_extract_all
    runs inside whole-stage codegen, nothing shuffles but the
    19-source rollup."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit("[^ ]+"), 0)).alias("words"),
        (
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)) + 1
        ).alias("sentences"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
        ).alias("syl"),
    ).where(F.col("words") > 0)
    scored = per_doc.select(
        "source",
        "words",
        (
            F.lit(206.835)
            - 1.015 * (F.col("words") * 1.0 / F.col("sentences"))
            - 84.6 * (F.col("syl") * 1.0 / F.col("words"))
        ).alias("flesch"),
        (
            0.39 * (F.col("words") * 1.0 / F.col("sentences"))
            + 11.8 * (F.col("syl") * 1.0 / F.col("words"))
            - 15.59
        ).alias("fk_grade"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("words"), 4).alias("avg_words"),
        F.round(F.avg("flesch"), 4).alias("avg_flesch"),
        F.round(F.avg("fk_grade"), 4).alias("avg_fk_grade"),
    )


# ========================================================================
# from analytics_extras50.py — original batch rationale:
# Analytics extras, batch 50: data-mixing epoch planning, weighted
# near-dup, a pinned Bloom filter, and time-decay scoring.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * mixture epoch planner — tokens-at-mix and epoch counts per source
#   under a temperature-adjusted sampling mix and a fixed token
#   budget, with the >4-epoch repetition flag (the data-constrained
#   scaling rule of thumb) — the table a pretraining run plans from.
# * IDF-weighted Jaccard — near-dup scoring where rare shingles count
#   more than boilerplate (the weighted upgrade of
#   `dedup_ngram_jaccard`, same posting-list shuffle plan).
# * pinned Bloom filter — a complete m-bit / k-hash Bloom filter
#   built relationally from md5 hashes, with measured-vs-theoretical
#   false-positive rate; completes the sketch family next to the
#   pinned HLL / count-min / linear-counting / KMV.
# * time-decay score — exponentially decayed engagement per user, the
#   classic recency-weighted feature.
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_WJ_N = 3


_WJ_THRESHOLD = 0.25



def _idf_gram_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eager-checkpointed 1-row-per-doc hashed-shingle arrays
    feeding ``text_idf_weighted_jaccard`` — one 8-byte hash per
    distinct shingle: the df count and pair identity only need
    equality, so the groupBy shuffles longs, not 20-char strings
    (same determinization as the threshold sweep). The gram build —
    the dominant narrow cost — is spread BEFORE the checkpoint and
    pinned once. Module-level (not inlined in the query) so the
    spread-floor guard can probe the checkpointed RDD's width
    directly: the downstream lazy posting checkpoint swallows this
    leaf from the final plan."""
    from hivetomysql_spark.operators.parallelism import spread_for_compute

    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.lower("text")), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (_WJ_N - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, _WJ_N)),
        )
    )
    return spread_for_compute(d).select(
        "doc_id",
        F.transform(grams, lambda g: F.xxhash64(g)).alias("sh"),
    ).localCheckpoint()


@register(
    "text_idf_weighted_jaccard",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, g.sh
      FROM raw, UNNEST(list_transform(
        range(1, greatest(len(w) - {_WJ_N - 1}, 1) + 1),
        i -> array_to_string(w[i:i+{_WJ_N - 1}], ' ')
      )) AS g(sh)
    ),
    df_ AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    ),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    widf AS (
      SELECT sh.doc_id, sh.sh, LN(n_docs.n * 1.0 / df_.df) + 1.0 AS idf
      FROM sh JOIN df_ USING (sh) CROSS JOIN n_docs
    ),
    doc_w AS (
      SELECT doc_id, SUM(idf) AS tw FROM widf GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.idf) AS iw
      FROM widf a JOIN widf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(iw / (wa.tw + wb.tw - iw), 4) AS weighted_jaccard
    FROM inter
    JOIN doc_w wa ON wa.doc_id = id_a
    JOIN doc_w wb ON wb.doc_id = id_b
    WHERE iw / (wa.tw + wb.tw - iw) >= {_WJ_THRESHOLD}
    """,
)
def text_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs: each 3-gram shingle
    carries weight ln(N/df)+1, so two documents sharing RARE content
    score higher than two sharing boilerplate — the weighting that
    separates true near-dups from template kin, which plain Jaccard
    (`dedup_ngram_jaccard`) cannot. weighted_J(a,b) =
    W(a∩b) / (W(a)+W(b)−W(a∩b)).

    Shape: ONE groupBy(shingle) builds sorted posting lists whose
    LENGTH is the document frequency, so idf needs no join-back at
    all (the corpus size is a one-scalar driver probe; N is defined
    as COUNT(*) over documents on BOTH engines, so a NULL-text doc —
    which emits no shingle on either side — still counts toward N
    and idf stays engine-identical); per-doc total weights
    and pair intersection weights both unfold from the posting table
    post-shuffle (ordered pairs of a sorted posting list ARE the
    id_a < id_b self-join matches). This replaced the widf self-join
    plan, whose un-pinned sh⋈df join subtree re-evaluated once per
    consumer — measured 6.2 s → ~2.5 s at sf0.1 with two fewer
    shuffle shapes."""
    from hivetomysql_spark.tables import table_row_count

    # parquet-footer count (action-free for plan-only consumers);
    # N = COUNT(*) over documents on both engines — see docstring
    n_docs = float(table_row_count(sf_dir, "documents"))
    arr = _idf_gram_arrays(spark, sf_dir)
    sh = arr.select("doc_id", F.explode("sh").alias("sh"))
    post = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("lst"))
        .select(
            "lst",
            (F.log(F.lit(n_docs) / F.size("lst")) + 1.0).alias("idf"),
        )
        .localCheckpoint(eager=False)  # pin: two downstream unfolds
    )
    doc_w = (
        post.select(F.explode("lst").alias("doc_id"), "idf")
        .groupBy("doc_id")
        .agg(F.sum("idf").alias("tw"))
    )
    pair_arr = F.flatten(
        F.transform(
            "lst",
            lambda x, i: F.transform(
                F.slice("lst", i + 2, F.size("lst")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        post.where(F.size("lst") > 1)
        .select(F.explode(pair_arr).alias("p"), "idf")
        .groupBy("p.id_a", "p.id_b")
        .agg(F.sum("idf").alias("iw"))
    )
    wa = doc_w.select(F.col("doc_id").alias("id_a"), F.col("tw").alias("twa"))
    wb = doc_w.select(F.col("doc_id").alias("id_b"), F.col("tw").alias("twb"))
    wj = F.col("iw") / (F.col("twa") + F.col("twb") - F.col("iw"))
    return (
        inter.join(wa, "id_a")
        .join(wb, "id_b")
        .where(wj >= _WJ_THRESHOLD)
        .select("id_a", "id_b", F.round(wj, 4).alias("weighted_jaccard"))
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



@register(
    "text_train_eval_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, doc_id % 2 = 0 AS is_train, i.i AS pos, w[i.i] AS tok
      FROM (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
      ), UNNEST(range(1, len(w) + 1)) AS i(i)
    ),
    vocab AS (
      SELECT tok, COUNT(*) AS c1 FROM toks WHERE is_train GROUP BY tok
    ),
    vsize AS (SELECT COUNT(*) + 1 AS v FROM vocab),
    train_bi AS (
      SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.is_train AND b.is_train
      GROUP BY 1, 2
    ),
    eval_bi AS (
      SELECT a.source,
             COALESCE(va.tok, '<unk>') AS w1,
             COALESCE(vb.tok, '<unk>') AS w2
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      LEFT JOIN vocab va ON va.tok = a.tok
      LEFT JOIN vocab vb ON vb.tok = b.tok
      WHERE NOT a.is_train
    ),
    scored AS (
      SELECT e.source,
             -LN((COALESCE(tb.c2, 0) + 1.0)
                 / (COALESCE(v1.c1, 0) + vsize.v)) AS nll
      FROM eval_bi e
      LEFT JOIN train_bi tb ON tb.w1 = e.w1 AND tb.w2 = e.w2
      LEFT JOIN vocab v1 ON v1.tok = e.w1
      CROSS JOIN vsize
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(nll), 4) AS avg_nll,
           ROUND(EXP(AVG(nll)), 4) AS perplexity
    FROM scored GROUP BY source
    """,
)
def text_train_eval_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model perplexity per source: an add-one
    bigram LM trained on even doc_ids, evaluated on odd doc_ids with
    out-of-vocabulary tokens mapped to <unk> — the honest version of
    the in-sample `text_bigram_surprisal` (in-sample scores reward
    memorizing boilerplate; held-out perplexity is the number that
    actually ranks corpus quality for LM training, cf. the
    perplexity-filtering line of CCNet/Wikipedia-LM cleaning).

    Shape: tokenization is one scan with in-row position explode;
    bigram counts reduce before any join; eval bigrams join the
    model via broadcast-sized count tables (at 100 TB the model side
    is the small one by construction — vocab-bounded)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.lower("text")), r"\s+")
    toks = (
        d.select(
            "doc_id",
            "source",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.posexplode(w).alias("pos0", "tok"),
        )
        .select(
            "doc_id",
            "source",
            "is_train",
            (F.col("pos0") + 1).alias("pos"),
            "tok",
        )
        .localCheckpoint(eager=False)
    )
    vocab = (
        toks.where("is_train").groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = vocab.agg((F.count(F.lit(1)) + 1).alias("v"))
    b = toks.select(
        F.col("doc_id").alias("bd"),
        F.col("pos").alias("bp"),
        F.col("tok").alias("btok"),
        F.col("is_train").alias("bt"),
    )
    pairs = toks.join(
        b,
        (F.col("bd") == F.col("doc_id")) & (F.col("bp") == F.col("pos") + 1),
    )
    train_bi = (
        pairs.where(F.col("is_train") & F.col("bt"))
        .groupBy(F.col("tok").alias("w1"), F.col("btok").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    va = vocab.select(F.col("tok").alias("vat"))
    vb = vocab.select(F.col("tok").alias("vbt"))
    eval_bi = (
        pairs.where(~F.col("is_train"))
        .join(F.broadcast(va), F.col("tok") == F.col("vat"), "left")
        .join(F.broadcast(vb), F.col("btok") == F.col("vbt"), "left")
        .select(
            "source",
            F.coalesce(F.col("vat"), F.lit("<unk>")).alias("w1"),
            F.coalesce(F.col("vbt"), F.lit("<unk>")).alias("w2"),
        )
    )
    v1 = vocab.select(F.col("tok").alias("v1t"), F.col("c1").alias("v1c"))
    tb = train_bi.select(
        F.col("w1").alias("tw1"), F.col("w2").alias("tw2"), "c2"
    )
    scored = (
        eval_bi.join(
            F.broadcast(tb),
            (F.col("w1") == F.col("tw1")) & (F.col("w2") == F.col("tw2")),
            "left",
        )
        .join(F.broadcast(v1), F.col("w1") == F.col("v1t"), "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "source",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("v1c"), F.lit(0)) + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.exp(F.avg("nll")), 4).alias("perplexity"),
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
    "text_ngram_novelty_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, doc_id % 2 = 0 AS is_train,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    tris AS (
      SELECT doc_id, source, is_train,
             array_to_string(w[i:i+2], ' ') AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
    ),
    train_set AS (SELECT DISTINCT g FROM tris WHERE is_train),
    eval_tris AS (
      SELECT e.source, e.g, ts.g IS NOT NULL AS seen
      FROM tris e LEFT JOIN train_set ts ON ts.g = e.g
      WHERE NOT e.is_train
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_trigrams,
           CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN seen THEN 0.0 ELSE 1.0 END) / COUNT(*), 4)
             AS novelty_ratio
    FROM eval_tris GROUP BY source
    """,
)
def text_ngram_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty of the held-out half against the training
    half: the share of eval trigrams NEVER seen in training — the
    memorization/novelty axis that perplexity alone conflates (low
    perplexity + low novelty = the corpus repeats itself; low
    perplexity + high novelty = the model generalizes). Used both to
    audit corpus diversity and, applied to model samples, to detect
    verbatim training-data regurgitation.

    Shape: one in-row trigram fan-out, a distinct reduce for the
    train set, one hash join of eval trigrams against it (at 100 TB
    the train set joins as hashed 8-byte keys, same plan as the
    dedup posting tables)."""
    from hivetomysql_spark.operators.parallelism import spread_for_compute

    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.lower("text")), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
    )
    # trigram build: spread off the single-file scan and pin the
    # per-doc gram arrays once — tris feeds BOTH the train-set reduce
    # and the eval join, which otherwise re-run the dominant narrow
    # build twice on one core
    arr = spread_for_compute(d).select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        grams.alias("gs"),
    ).localCheckpoint()
    tris = arr.select(
        "doc_id", "source", "is_train", F.explode("gs").alias("g")
    )
    train_set = tris.where("is_train").select("g").distinct()
    ts = train_set.select(F.col("g").alias("tg"))
    eval_tris = (
        tris.where(~F.col("is_train"))
        .join(F.broadcast(ts), F.col("g") == F.col("tg"), "left")
        .select("source", F.col("tg").isNotNull().alias("seen"))
    )
    return eval_tris.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_eval_trigrams"),
        F.sum((~F.col("seen")).cast("long")).cast("long").alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("seen"), 0.0).otherwise(1.0))
            / F.count(F.lit(1)),
            4,
        ).alias("novelty_ratio"),
    )


# ========================================================================
# from analytics_extras66.py — original batch rationale:
# Analytics extras, batch 66: Markov absorption analysis and MATTR
# lexical diversity.
#
# None exist in the reference (`HiveToMysql.java:1-641` copies rows,
# computes nothing); SURVEY.md §2.2 extension-tier entries:
#
# * Markov absorption — expected steps-to-absorption and absorption
#   probabilities (purchase vs error) from every transient state via
#   a truncated Neumann series: the funnel-economics number that
#   completes the Markov family (stationary, removal attribution,
#   entropy rate).
# * MATTR — moving-average type-token ratio over 50-token windows:
#   the length-unbiased lexical-diversity measure (plain TTR falls
#   mechanically with document length; MATTR fixes the comparison).
# ========================================================================
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from hivetomysql_spark.queries import register
from hivetomysql_spark.tables import load_table


_MATTR_WIN = 50


_MATTR_STEP = 25



@register(
    "text_mattr_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source, len(w) AS n,
             len(list_distinct(w)) * 1.0 / len(w) AS plain_ttr,
             CASE WHEN len(w) < {_MATTR_WIN} THEN
               len(list_distinct(w)) * 1.0 / len(w)
             ELSE (
               SELECT AVG(len(list_distinct(w[s.s:s.s+{_MATTR_WIN - 1}]))
                          / {_MATTR_WIN}.0)
               FROM UNNEST(range(1, len(w) - {_MATTR_WIN} + 2,
                                 {_MATTR_STEP})) AS s(s)
             ) END AS mattr
      FROM toks WHERE len(w) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n), 2) AS avg_tokens,
           ROUND(AVG(plain_ttr), 4) AS avg_plain_ttr,
           ROUND(AVG(mattr), 4) AS avg_mattr
    FROM per_doc GROUP BY source
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington &
    McFall): distinct-token share averaged over sliding 50-token
    windows (step 25), falling back to plain TTR for short
    documents — the lexical-diversity measure that does NOT fall
    mechanically with document length, reported next to plain TTR so
    the length bias is visible per source. The diversity screen for
    template-farm and repetitive-generation content, complementing
    `text_distinct_ngram_diversity` (n-gram level) and
    `text_hapax_ratio` (corpus level).

    Shape: pure in-row array work (windows never leave the token
    array), one O(sources) rollup."""
    d = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
    )
    toks = d.select("doc_id", "source", w.alias("w")).where(F.size("w") > 0)
    n = F.size("w")
    plain = F.size(F.array_distinct("w")) * 1.0 / n
    starts = F.sequence(
        F.lit(1), n - _MATTR_WIN + 1, F.lit(_MATTR_STEP)
    )
    win_ttrs = F.transform(
        starts,
        lambda s: F.size(F.array_distinct(F.slice(F.col("w"), s, _MATTR_WIN)))
        / float(_MATTR_WIN),
    )
    mattr = F.when(n < _MATTR_WIN, plain).otherwise(
        F.aggregate(win_ttrs, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(win_ttrs)
    )
    per_doc = toks.select(
        "source", n.alias("n"), plain.alias("plain_ttr"), mattr.alias("mattr")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n"), 2).alias("avg_tokens"),
        F.round(F.avg("plain_ttr"), 4).alias("avg_plain_ttr"),
        F.round(F.avg("mattr"), 4).alias("avg_mattr"),
    )
