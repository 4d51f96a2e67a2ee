"""llm_lm_extra depth tests: the trigram stupid-backoff scorer against a
pure-Python reference on synthetic corpora (the cross-engine oracle proves
Spark==DuckDB; this proves both equal the ALGORITHM), and the JL
projection's distortion-concentration guarantee."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import similarity
from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
    _JL_K,
    _SB_ALPHA,
    trigram_backoff_scores,
)


def _reference_backoff(docs: list[tuple[int, str]]):
    """Pure-Python stupid backoff, mirroring the operator's definitions:
    counts from even doc_ids, add-one unigram floor, alpha=0.4."""
    from collections import Counter

    uni, bi, tri = Counter(), Counter(), Counter()
    for doc_id, text in docs:
        if doc_id % 2 != 0:
            continue
        tok = text.split(" ")
        uni.update(tok)
        bi.update(zip(tok, tok[1:]))
        tri.update(zip(tok, tok[1:], tok[2:]))
    n, v = sum(uni.values()), len(uni)
    out = {}
    for doc_id, text in docs:
        tok = text.split(" ")
        lps, backs = [], []
        for w1, w2, w3 in zip(tok, tok[1:], tok[2:]):
            if tri[(w1, w2, w3)]:
                s = tri[(w1, w2, w3)] / bi[(w1, w2)]
                backs.append(0.0)
            elif bi[(w2, w3)]:
                s = _SB_ALPHA * bi[(w2, w3)] / uni[w2]
                backs.append(1.0)
            else:
                s = _SB_ALPHA * _SB_ALPHA * (uni[w3] + 1) / (n + v)
                backs.append(1.0)
            lps.append(math.log10(s))
        if lps:
            out[doc_id] = (
                len(lps),
                round(sum(lps) / len(lps), 4),
                round(sum(backs) / len(backs), 4),
            )
    return out


CORPORA = [
    # train half covers everything -> backoff never fires
    [(0, "a b c a b c"), (2, "a b c a b"), (1, "a b c a b c")],
    # odd doc has trigrams/bigrams the even half never saw
    [(0, "x y z x y z"), (1, "x y q z y x"), (3, "q q q")],
    # OOV words in the scored half (unigram add-one floor path)
    [(0, "a b c d e f"), (1, "g h i j k")],
    # repetition-heavy + short docs that drop out
    [(0, "r r r r r r r r"), (2, "r r s"), (1, "r r"), (5, "s r r r s")],
]


@pytest.mark.parametrize("docs", CORPORA)
def test_matches_pure_python_reference(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_log10_score"], r["backoff_rate"])
        for r in trigram_backoff_scores(df).collect()
    }
    want = _reference_backoff(docs)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-4)
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-9)


def test_train_half_never_backs_off(spark):
    """Every trigram of an even doc is in the train counts by construction,
    so even docs must score with backoff_rate == 0."""
    docs = [(i, "m n o p q m n o") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = trigram_backoff_scores(df).collect()
    for r in rows:
        if r["doc_id"] % 2 == 0:
            assert r["backoff_rate"] == 0.0


def test_jl_planes_match_hashlib_derivation():
    planes = similarity.make_planes_md5(64, _JL_K)
    assert planes.shape == (_JL_K, 64)
    for p in (0, 7, 15):
        for d in (0, 13, 63):
            want = 1.0 if int(hashlib.md5(f"rp{p}:{d}".encode()).hexdigest()[0], 16) % 2 else -1.0
            assert planes[p][d] == want
    # a Rademacher family is balanced-ish, never degenerate
    assert 0.3 < (planes > 0).mean() < 0.7


def test_jl_distortion_concentrates(spark, sf_dir):
    """The JL lemma made observable: for k=16 the norm-distortion ratio
    should concentrate near 1 — check median and tail bounds over the
    fixture embeddings."""
    from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
        llm_emb_random_projection,
    )

    pdf = llm_emb_random_projection(spark, sf_dir).toPandas()
    d = pdf["distortion"].to_numpy()
    assert np.all(d > 0)
    assert 0.85 < np.median(d) < 1.15
    # eps ~ sqrt(ln n / k): generous tails, but nothing pathological
    assert np.quantile(d, 0.01) > 0.4 and np.quantile(d, 0.99) < 1.8
