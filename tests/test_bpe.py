"""BPE vocabulary-induction tests: the DataFrame training loop must agree
merge-for-merge with a pure-Python reference implementation."""

from __future__ import annotations

from collections import Counter

from data_pipeline_with_spark_kafka_spark.operators import bpe


def python_bpe(word_counts: dict[str, int], num_merges: int):
    """Reference implementation (Sennrich-style, word-frequency table)."""
    table = {w: list(w) + [bpe.END_OF_WORD] for w in word_counts}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in table.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += word_counts[w]
        if not pairs:
            break
        # max count, ties broken lexicographically on (a, b)
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        for w, syms in table.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            table[w] = out
    return merges


def segment_word(word: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Apply learned merges to one word (driver-side reference for the
    distributed encoder)."""
    syms = list(word) + [bpe.END_OF_WORD]
    for a, b, _ in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_matches_python_reference(spark):
    corpus = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
        "low newer wide lowest",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    words: Counter = Counter()
    for line in corpus:
        words.update(line.split())

    expected = python_bpe(dict(words), num_merges=12)
    got = bpe.train_bpe(docs, "text", num_merges=12)
    assert got == expected, (got, expected)


def test_bpe_segmentation_is_consistent(spark):
    docs = spark.createDataFrame(
        [(0, "banana bandana banana banana bandana")], "doc_id long, text string"
    )
    merges = bpe.train_bpe(docs, "text", num_merges=8)
    assert merges
    seg = segment_word("banana", merges)
    # re-joining the segmentation reproduces the word (+ end marker)
    assert "".join(seg) == "banana" + bpe.END_OF_WORD
    # the most frequent word compresses below character length
    assert len(seg) < len("banana") + 1


def test_bpe_distributed_path_equals_driver_path(spark):
    """Forcing the distributed loop (driver_limit=0) must yield the exact
    same merges as the driver-side path."""
    docs = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest new new")],
        "doc_id long, text string",
    )
    fast = bpe.train_bpe(docs, "text", num_merges=8)
    distributed = bpe.train_bpe(docs, "text", num_merges=8, driver_limit=0)
    assert fast == distributed


def test_bpe_encode_matches_reference_per_doc(spark, sf_dir):
    """Distributed encode (encode-distinct-words + occurrence join +
    position reassembly) must be token-for-token the pure-Python
    segment_word applied word-by-word, for every fixture doc."""
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    merges = bpe.train_bpe(docs, "text", num_merges=12)
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_words, r.n_bpe_tokens)
        for r in bpe.bpe_encode(docs, "doc_id", "text", merges).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        words = [w for w in row.text.split(" ") if w]
        expect = [p for w in words for p in segment_word(w, merges)]
        tokens_got, n_words, n_bpe = got[row.doc_id]
        assert tokens_got == expect, row.doc_id
        assert n_words == len(words)
        assert n_bpe == len(expect)


def test_bpe_encode_roundtrips_text(spark):
    """Concatenating each word's pieces reproduces the original text:
    encoding loses nothing."""
    docs = spark.createDataFrame(
        [(0, "banana bandana banana"), (1, "low lower lowest")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, "text", num_merges=6)
    out = {r.doc_id: list(r.bpe_tokens) for r in bpe.bpe_encode(docs, "doc_id", "text", merges).collect()}
    for doc_id, text in [(0, "banana bandana banana"), (1, "low lower lowest")]:
        joined = "".join(out[doc_id]).replace(bpe.END_OF_WORD, " ").strip()
        assert joined == text


def test_bpe_encode_zero_merges_is_characters(spark):
    docs = spark.createDataFrame([(0, "ab ba")], "doc_id long, text string")
    out = bpe.bpe_encode(docs, "doc_id", "text", []).collect()[0]
    assert list(out.bpe_tokens) == ["a", "b", bpe.END_OF_WORD, "b", "a", bpe.END_OF_WORD]
