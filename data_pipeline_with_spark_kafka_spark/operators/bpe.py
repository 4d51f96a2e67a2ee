"""BPE (byte-pair-encoding) vocabulary induction as iterative DataFrame
aggregations — tokenizer TRAINING on the cluster, no modeling library.

Standard BPE trains on the WORD-FREQUENCY table, not the raw corpus: the
distinct-word relation is vocabulary-sized (millions of rows at 100 TB,
not billions), each word carried as an array of symbols weighted by its
corpus count. One merge iteration is:

1. adjacent-pair counts: ``arrays_zip`` of the symbol array with its own
   tail, exploded, count weighted by word frequency — one map-side-
   combined aggregate;
2. argmax pair (deterministic: ties break lexicographically) — one tiny
   collect;
3. merge the winning pair inside every word's symbol array — a pure
   ``aggregate`` lambda (pop-last formulation: walking left to right, if
   the accumulator's last symbol is ``a`` and the current is ``b``,
   replace the last with ``ab``), which reproduces BPE's non-overlapping
   left-to-right merge exactly. No UDF; the walk runs in the JVM.

The loop's shuffle cost is (merges x one pair-count aggregate over the
distinct-word relation) — independent of corpus size after the initial
word count."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.iterate import collect_if_fits, iterate
from data_pipeline_with_spark_kafka_spark.sources import memo

END_OF_WORD = "</w>"


def word_symbol_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, count, syms) — distinct words with corpus frequencies, each
    split into single-character symbols + an end-of-word marker."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = F.concat(
        F.split(F.col("word"), ""),  # one element per character
        F.array(F.lit(END_OF_WORD)),
    )
    return words.select("word", "cnt", syms.alias("syms"))


def _pair_counts(table: DataFrame) -> DataFrame:
    zipped = F.arrays_zip(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
    )
    return (
        table.filter(F.size("syms") >= 2)
        .select("cnt", F.explode(zipped).alias("p"))
        .select("cnt", F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("n"))
    )


def _merge_pair(table: DataFrame, a: str, b: str) -> DataFrame:
    la, lb = F.lit(a), F.lit(b)
    merged = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(la, lb))),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return table.select("word", "cnt", merged.alias("syms"))


@memo.memoized
def train_bpe(
    docs: DataFrame,
    text_col: str,
    *,
    num_merges: int = 20,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(left, right, weighted
    count)] in merge order. Deterministic: the argmax pair breaks ties on
    (a, b) lexicographically, so the same corpus always yields the same
    vocabulary on any engine or cluster.

    Adaptive execution (the same trade real tokenizer trainers make): the
    corpus-sized work — word counting — is ALWAYS distributed; the merge
    loop only touches the distinct-word table, which for natural language
    is vocabulary-sized. The tier is ``iterate.collect_if_fits`` on that
    table's (word, cnt) rows, a bound on the distinct-word count (the
    table's plan estimate follows the corpus scan under the aggregate, not
    the vocabulary). When it fits, the rows come back from that one
    collect and the loop runs driver-side (one pass per merge over an
    in-memory dict — no per-iteration job scheduling); a larger table
    runs the distributed loop on the shared driver (operators/iterate.py)
    over the table the collect already cached: one checkpointed
    generation per merge, the argmax pair collected inside the step. Both
    tiers are merge-for-merge identical (tested).

    Memoized per input content (``sources.memo``): at scale the tokenizer
    is a small offline artifact handed to every encode job, never
    retrained inside one."""
    counted = word_symbol_table(docs, text_col).persist()
    table = collect_if_fits(counted.select("word", "cnt"))
    if table is not None:
        counted.unpersist()
        word_counts = dict(zip(table.column("word").to_pylist(), table.column("cnt").to_pylist()))
        return _train_driver_side(word_counts, num_merges)
    merges: list[tuple[str, str, int]] = []

    def merge_top_pair(table: DataFrame) -> DataFrame:
        top = _pair_counts(table).orderBy(F.col("n").desc(), "a", "b").limit(1).collect()
        if not top:  # every word is one symbol: nothing left to merge
            return table
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        return _merge_pair(table, a, b)

    iterate(counted, merge_top_pair, iterations=num_merges, name="train_bpe", release=(counted,))
    return merges


def _train_driver_side(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str, int]]:
    """The merge loop over an in-memory word-frequency table (Sennrich
    form). Same argmax/tie-break/merge semantics as the DataFrame loop."""
    table = {w: list(w) + [END_OF_WORD] for w in word_counts}
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in table.items():
            cnt = word_counts[w]
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                pairs[key] = pairs.get(key, 0) + cnt
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        for w, syms in table.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            table[w] = out
    return merges


def encode_word_table(words: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, pieces) — apply the learned merges, in order, to every
    distinct word's symbol array. Pure JVM expressions: each merge is one
    ``aggregate`` walk (the exact _merge_pair lambda the trainer uses), so
    encode-after-train is symbol-for-symbol the trainer's final state."""
    table = words
    for a, b, _n in merges:
        table = _merge_pair(table, a, b)
    return table.select("word", F.col("syms").alias("pieces"))


def bpe_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Encode every document with a trained BPE merge list.

    The 100-TB shape: per-word encoding cost is paid ONCE PER DISTINCT
    WORD (the vocabulary-sized relation), not once per occurrence — the
    corpus-sized side only explodes to (doc, pos, word) and equi-joins the
    encoded word table on the word key (AQE broadcasts the vocab side when
    it fits; at natural-language scale the vocab is millions of rows
    against billions of occurrences). Reassembly sorts by position inside
    a per-doc collect_list — deterministic, never relying on collect
    order.

    Returns (id, bpe_tokens array<string>, n_words, n_bpe_tokens).
    """
    words = word_symbol_table(docs, text_col)
    encoded = encode_word_table(words, merges)
    occurrences = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    joined = occurrences.join(encoded, "word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .select(
            F.col(id_col),
            "bpe_tokens",
            F.col("n_words").cast("long").alias("n_words"),
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )
