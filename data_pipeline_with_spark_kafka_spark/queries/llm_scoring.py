"""Statistical corpus scoring: bigram-LM perplexity (the CCNet-style
quality signal — score each document under a language model trained on
the corpus itself) and TF-IDF keyword extraction.

Both are pure DataFrame aggregation/join pipelines over exploded token
relations — the LM "training" is one aggregation pass, "inference" is a
join, there is no modeling library and no UDF. Cross-engine float notes:
log2/ln may differ in the last ulp between JVM and libm, so every emitted
score is rounded via ``round_to`` and ranking happens on the ROUNDED
score with a token tie-break.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    load_table,
    load_table_fanned,
    local_rows,
)

# Add-k smoothing constant for the bigram model.
_K = 0.5

PERPLEXITY_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), uni AS (
    SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w
), vocab AS (
    SELECT COUNT(*) AS v FROM uni
), bi AS (
    SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
    FROM toks, UNNEST(range(1, len(t))) AS r(i)
), bic AS (
    SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
), scored AS (
    SELECT bi.doc_id,
           log2((bic.c12 + {_K}) / (uni.c1 + {_K} * vocab.v)) AS lp
    FROM bi
    JOIN bic ON bic.w1 = bi.w1 AND bic.w2 = bi.w2
    JOIN uni ON uni.w = bi.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(POW(2.0, -AVG(lp)), 4) AS perplexity
FROM scored
GROUP BY doc_id
"""


@register("llm_perplexity_bigram", oracle=PERPLEXITY_ORACLE, tags=("llm", "scoring"))
def llm_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document, model trained on the corpus
    itself (the self-perplexity quality signal: templated/degenerate docs
    score LOW, out-of-distribution noise scores HIGH — both tails get
    filtered in real pipelines).

    Train = one bigram-count aggregate + one unigram-count aggregate
    (map-side combined). Score = join each doc's bigram stream against the
    count relations. At 100 TB both count relations are vocabulary-sized
    (not corpus-sized) and the joins shuffle on the token key — the same
    bounded shape as the dedup tiers. Docs with < 2 tokens have no bigrams
    and drop out (mirrored by the oracle)."""
    docs = load_table_fanned(spark, sf_dir, "documents")
    t = tokens(F.col("text"))

    uni = (
        docs.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))

    # Persist (dedup.py cache contract): the exploded bigram stream — the
    # largest intermediate here — feeds BOTH the count model (bic) and the
    # scoring join; without it tokenize+shingle+explode runs twice.
    bi = docs.select(
        "doc_id", F.explode(shingles(t, 2, distinct=False)).alias("bg")
    ).select(
        "doc_id",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    ).persist()
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))

    # Type-space scoring (r12 — the trigram twin's trade applied here):
    # lp depends only on the bigram TYPE, so score each distinct (w1, w2)
    # once against the two count relations — all vocabulary-sized joins —
    # and the corpus-sized occurrence stream pays exactly ONE equi-join
    # (type -> lp) before the per-doc aggregate. The old shape joined the
    # occurrence stream itself against bic and then uni: two corpus-sized
    # shuffle joins instead of one.
    lp = F.log2((F.col("c12") + F.lit(_K)) / (F.col("c1") + F.lit(_K) * F.col("v")))
    typ = (
        bic.join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", lp.alias("lp"))
    )
    scored = bi.join(typ, ["w1", "w2"]).select("doc_id", "lp")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        round_to(F.pow(F.lit(2.0), -F.avg("lp")), 4).alias("perplexity"),
    )


TFIDF_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tf AS (
    SELECT doc_id, w, COUNT(*) AS tf
    FROM (SELECT doc_id, UNNEST(t) AS w FROM toks)
    GROUP BY doc_id, w
), df AS (
    SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tf) GROUP BY w
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.w,
           ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS score
    FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
), ranked AS (
    SELECT doc_id, w, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rn
    FROM scored
)
SELECT doc_id, w AS keyword, score, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 3
"""


@register("llm_tfidf_keywords", oracle=TFIDF_ORACLE, tags=("llm", "scoring"))
def llm_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed sklearn-style idf =
    ln((N+1)/(df+1)) + 1). Ranking happens on the ROUNDED score with a
    token tie-break so both engines rank identically; the per-doc top-k is
    a WindowGroupLimit (per-partition heap), not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))

    tf = (
        docs.select("doc_id", F.explode(t).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    score = round_to(
        F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
    )
    scored = (
        tf.join(df_rel, "w")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", F.col("w").alias("keyword"), score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "keyword")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "keyword", "score", "rank")
    )


@register("agg_hll_sketch_merge", oracle=None, tags=("agg", "approx", "scale"))
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE-SKETCH pattern for distinct counts at 100 TB: build a
    Datasketches HLL per partition (here: per event_type), persist/ship the
    sketch BYTES, then union-merge sketches for any rollup — re-aggregation
    without re-scanning raw data (incremental DAU, cross-shard uniques).
    One pass builds all per-type sketches; the global count comes from
    merging THOSE, not from the events table. Rows-only (sketch estimates
    are implementation-specific); accuracy vs exact count_distinct is
    property-tested in tests/test_llm_ops.py."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return merged.select(F.lit("all_types").alias("scope"), "approx_users", "n_types")


WEIGHTED_QUALITY_MEAN_ORACLE = """
WITH t AS (
    SELECT lang,
           CAST(n_chars AS DOUBLE) AS c,
           LENGTH(text) AS lc,
           string_split(text, ' ') AS toks
    FROM documents
), s AS (
    SELECT lang, c,
           ROUND(0.4 * LEAST(len(toks) / 50.0, 1.0)
         + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) * 1.0 / len(toks))
         + 0.3 * LEAST(((lc - (len(toks) - 1) * 1.0) / len(toks)) / 8.0, 1.0), 4) AS q
    FROM t
)
SELECT lang, ROUND(SUM(c * q) / SUM(q), 4) AS weighted_mean_chars
FROM s GROUP BY lang
"""


@register(
    "llm_weighted_quality_mean",
    oracle=WEIGHTED_QUALITY_MEAN_ORACLE,
    tags=("llm", "pandas-udf"),
)
def llm_weighted_quality_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (the §2.9 GROUPED_AGG surface): per-language
    quality-weighted mean document length — one Arrow batch per group into
    a numpy reduction. Fully oracled since round 7: the quality weight has
    an exact SQL mirror (llm_text_quality's formula) and the weighted mean
    is sum(c*q)/sum(q); float partial-agg ordering differs between pandas
    and DuckDB but the discrepancy (~1e-11 relative on hundreds of docs
    per group) sits far below the 4-decimal output rounding — so the
    oracle VERIFIES the UDF contract rather than trusting it. (For a
    pure-SQL weighted mean the codegen path is preferred; this query
    exists to exercise the vectorized grouped-agg UDF.)"""
    from pyspark.sql.functions import pandas_udf

    from data_pipeline_with_spark_kafka_spark.operators.text import quality_score

    def _wmean(chars: pd.Series, weight: pd.Series) -> float | None:
        # zero/all-NaN weight mass -> NULL, matching SQL's SUM(c*q)/SUM(q)
        # (pandas .sum() skipna's an all-NaN series to 0.0, which would
        # silently emit 0.0 where both engines' SQL says NULL — round-8
        # all-NULL edge corpus).
        total = float(weight.sum())
        return float((chars * weight).sum() / total) if total else None

    wmean = pandas_udf(_wmean, "double")
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("n_chars"),
        quality_score(F.col("text"), tokens(F.col("text"))).alias("q"),
    )
    return scored.groupBy("lang").agg(
        round_to(wmean("n_chars", "q"), 4).alias("weighted_mean_chars")
    )


def _bpe_stages_sql(num_merges: int) -> str:
    """The shared WITH-chain both BPE oracles build on: the WHOLE
    training loop unrolled as ``num_merges`` chained CTE stages (the same
    pattern that oracled MMR's iterative greedy). Stage i over the symbol
    relation t_i(word, cnt, pos, sym):

    1. adjacent-pair counts + argmax with the trainer's exact tie-break
       (n DESC, a, b — binary string order on both engines);
    2. the pop-last greedy merge applied RELATIONALLY: candidate
       positions are i with (sym_i, sym_i+1) = (a, b); consecutive
       candidates only occur when a = b (a run of k a's yields k-1
       consecutive candidates), and the left-to-right fold merges at odd
       offsets within each candidate run — so "select odd row_number
       within each candidate run, drop the following position, renumber"
       reproduces operators/bpe._merge_pair symbol-for-symbol.

    MATERIALIZED on the multi-referenced CTEs is load-bearing: DuckDB's
    CTE inlining otherwise re-expands the chain exponentially."""
    sql = [
        """
WITH words AS (
    SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ) WHERE LENGTH(word) > 0 GROUP BY word
), t0 AS MATERIALIZED (
    SELECT word, cnt, pos,
           CASE WHEN pos <= LENGTH(word) THEN SUBSTR(word, CAST(pos AS INT), 1)
                ELSE '</w>' END AS sym
    FROM (
        SELECT word, cnt, UNNEST(generate_series(1, LENGTH(word) + 1)) AS pos
        FROM words
    )
)"""
    ]
    for i in range(num_merges):
        sql.append(f"""
, p{i} AS (
    SELECT x.sym AS a, y.sym AS b, SUM(x.cnt) AS n
    FROM t{i} x JOIN t{i} y ON x.word = y.word AND y.pos = x.pos + 1
    GROUP BY 1, 2
), top{i} AS MATERIALIZED (
    SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1
), c{i} AS (
    SELECT word, cnt, pos, sym,
           CASE WHEN sym = (SELECT a FROM top{i})
                 AND LEAD(sym) OVER (PARTITION BY word ORDER BY pos)
                     = (SELECT b FROM top{i})
                THEN 1 ELSE 0 END AS cand
    FROM t{i}
), g{i} AS (
    SELECT *, CASE WHEN cand = 1
        THEN pos - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY pos)
        END AS grp
    FROM c{i}
), s{i} AS (
    SELECT *, CASE WHEN cand = 1 AND
        (ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) % 2) = 1
        THEN 1 ELSE 0 END AS start
    FROM g{i}
), n{i} AS (
    SELECT word, cnt, pos,
           CASE WHEN start = 1 THEN sym || (SELECT b FROM top{i}) ELSE sym END AS sym,
           COALESCE(LAG(start) OVER (PARTITION BY word ORDER BY pos), 0) AS consumed
    FROM s{i}
), t{i + 1} AS MATERIALIZED (
    SELECT word, cnt,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
           sym
    FROM n{i} WHERE consumed = 0
)""")
    return "".join(sql)


def _bpe_encode_oracle(num_merges: int = 20) -> str:
    """llm_bpe_encode oracle: the final stage's per-word piece counts
    join back to occurrences, exactly mirroring bpe_encode's
    vocabulary-sized/corpus-sized split."""
    return _bpe_stages_sql(num_merges) + f"""
, enc AS (
    SELECT word, COUNT(*) AS n_pieces FROM t{num_merges} GROUP BY word
), occ AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_pieces) AS BIGINT) AS n_bpe_tokens
FROM occ o JOIN enc e USING (word)
GROUP BY o.doc_id"""


def _bpe_vocab_oracle(num_merges: int = 10) -> str:
    """llm_bpe_vocab oracle: each stage's argmax pair IS merge i — union
    the top{i} rows with their ranks (an empty top{i} contributes no row,
    matching the trainer's break on pair exhaustion)."""
    legs = [
        f"SELECT CAST({i} AS INTEGER) AS rank, a AS \"left\", b AS \"right\", "
        f"a || b AS merged, CAST(n AS BIGINT) AS weighted_count FROM top{i}"
        for i in range(num_merges)
    ]
    return _bpe_stages_sql(num_merges) + "\n" + "\nUNION ALL\n".join(legs)


@register("llm_bpe_vocab", oracle=_bpe_vocab_oracle(10), tags=("llm", "scoring", "iterative"))
def llm_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary induction on the corpus (operators/bpe):
    10 merges learned via iterative pair-count aggregates over the
    distinct-word relation — the k-means-style driver loop, one
    map-side-combined aggregate + one in-array JVM merge per iteration.
    Deterministic (lexicographic tie-break), merge-for-merge equal to a
    pure-Python reference (tests/test_bpe.py). Fully oracled since round
    7: DuckDB replays the training loop as unrolled CTE stages
    (_bpe_vocab_oracle) and each stage's argmax pair IS merge i."""
    from data_pipeline_with_spark_kafka_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", num_merges=10)
    return local_rows(
        spark,
        [(i, a, b, a + b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, left string, right string, merged string, weighted_count long",
    )


@register("llm_bpe_encode", oracle=_bpe_encode_oracle(20), tags=("llm", "scoring", "iterative"))
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODING with the corpus-trained tokenizer (the
    other half of llm_bpe_vocab): 20 merges applied to the distinct-word
    table via pure JVM aggregate walks, occurrences joined back on the
    word key and reassembled in position order (operators/bpe.bpe_encode).
    Output drops the token array (per-doc counts only) to keep the
    correctness hash on stable scalars. Fully oracled since round 7: the
    training loop is deterministic (lexicographic tie-break), so DuckDB
    replays all 20 merges as chained CTE stages (_bpe_encode_oracle) —
    token-for-token equality vs the pure-Python reference encoder is
    additionally pytest-pinned (tests/test_bpe.py)."""
    from data_pipeline_with_spark_kafka_spark.operators.bpe import bpe_encode, train_bpe

    docs = load_table_fanned(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", num_merges=20)
    return bpe_encode(docs, "doc_id", "text", merges).select(
        "doc_id", "n_words", "n_bpe_tokens"
    )
