"""DSIR importance selection + SQ8 quantization: semantics pinned against
pure-Python/NumPy references, codec error bound, and ANN recall."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import importance, quantization
from data_pipeline_with_spark_kafka_spark.operators import similarity as sim
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

B = importance.DEFAULT_BUCKETS


def _py_bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B


def _py_grams(text: str) -> list[str]:
    t = text.split(" ")
    return t + [f"{a} {b}" for a, b in zip(t, t[1:])]


def _py_dsir(rows: list[tuple[int, str, bool]]) -> dict[int, float]:
    """Reference implementation: exact add-one-smoothed bucket log-ratios."""
    tc = [0] * B
    rc = [0] * B
    for _, text, is_tgt in rows:
        for g in _py_grams(text):
            b = _py_bucket(g)
            rc[b] += 1
            if is_tgt:
                tc[b] += 1
    tt, rt = sum(tc), sum(rc)
    lw = [
        math.log((tc[b] + 1) / (tt + B)) - math.log((rc[b] + 1) / (rt + B))
        for b in range(B)
    ]
    return {
        doc_id: sum(lw[_py_bucket(g)] for g in _py_grams(text))
        for doc_id, text, _ in rows
    }


class TestDSIR:
    def test_matches_pure_python_reference(self, spark):
        rows = [
            (0, "the quick brown fox", True),
            (1, "der schnelle braune fuchs", False),
            (2, "the slow brown dog", True),
            (3, "fox fox fox the", False),
            (4, "completely unrelated tokens here", False),
        ]
        df = spark.createDataFrame(
            [(i, t, "en" if tgt else "de") for i, t, tgt in rows],
            "doc_id int, text string, lang string",
        )
        got = {
            r["doc_id"]: r["dsir_weight"]
            for r in importance.dsir_topk(
                df, "doc_id", "text", F.col("lang") == "en", k=10
            ).collect()
        }
        want = _py_dsir(rows)
        assert set(got) == set(want)
        for doc_id, w in want.items():
            assert got[doc_id] == pytest.approx(w, abs=2e-6)

    def test_target_docs_rank_higher(self, spark, sf_dir):
        """Sanity on the fixture corpus: a doc scores itself toward the
        distribution its own n-grams feed, so target-language docs should
        dominate the top of the ranking."""
        docs = load_table(spark, sf_dir, "documents")
        top = importance.dsir_topk(
            docs, "doc_id", "text", F.col("lang") == "en", k=30
        ).join(docs.select("doc_id", "lang"), "doc_id")
        langs = [r["lang"] for r in top.collect()]
        assert len(langs) == 30
        assert sum(1 for lang in langs if lang == "en") >= 20

    def test_no_target_docs_still_finite(self, spark):
        """tt=0 degrades to a uniform smoothed target — weights stay
        finite and the ranking is defined (no log(0) / division blowup)."""
        df = spark.createDataFrame(
            [(0, "a b c", "de"), (1, "d e f", "fr")], "doc_id int, text string, lang string"
        )
        rows = importance.dsir_topk(df, "doc_id", "text", F.col("lang") == "en", k=5).collect()
        assert len(rows) == 2
        assert all(math.isfinite(r["dsir_weight"]) for r in rows)

    def test_all_target_docs(self, spark):
        """target == raw: every bucket's ratio is (tc+1)/(tt+B) vs the
        identical raw term, so weights are small and identical-text docs
        tie exactly."""
        df = spark.createDataFrame(
            [(0, "a b", "en"), (1, "a b", "en")], "doc_id int, text string, lang string"
        )
        rows = importance.dsir_topk(df, "doc_id", "text", F.col("lang") == "en", k=5).collect()
        ws = {r["doc_id"]: r["dsir_weight"] for r in rows}
        assert ws[0] == ws[1]

    def test_rank_is_dense_and_ordered(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        rows = (
            importance.dsir_topk(docs, "doc_id", "text", F.col("lang") == "en", k=15)
            .orderBy("rank")
            .collect()
        )
        assert [r["rank"] for r in rows] == list(range(1, 16))
        weights = [r["dsir_weight"] for r in rows]
        assert weights == sorted(weights, reverse=True)


class TestMMR:
    def _pool(self, spark, sf_dir, pool=30):
        from data_pipeline_with_spark_kafka_spark.operators import similarity as s

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        return emb, q

    def test_matches_naive_python_greedy(self, spark, sf_dir):
        """Independent reference: set-based greedy over the same pool,
        written without the kernel's index bookkeeping."""
        from data_pipeline_with_spark_kafka_spark.operators import mmr

        emb, q = self._pool(spark, sf_dir)
        got = (
            mmr.mmr_select(emb, "vec_id", "embedding", q, k=8, pool=30, lam=0.7)
            .orderBy("position")
            .collect()
        )
        # rebuild the pool (same expressions) and greedy it naively
        from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
        from data_pipeline_with_spark_kafka_spark.operators import similarity as s

        qv = q.limit(1).select(s.as_double(F.col("embedding")).alias("qv"))
        pool = (
            emb.crossJoin(F.broadcast(qv))
            .select(
                "vec_id",
                s.as_double(F.col("embedding")).alias("v"),
                round_to(s.cosine(s.as_double(F.col("embedding")), F.col("qv")), 6).alias(
                    "rel"
                ),
            )
            .orderBy(F.col("rel").desc(), "vec_id")
            .limit(30)
            .collect()
        )
        vecs = {r["vec_id"]: np.array(r["v"]) for r in pool}
        rel = {r["vec_id"]: r["rel"] for r in pool}

        def cos(a, b):
            x = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            return math.floor(abs(x) * 1e6 + 0.5) / 1e6 * (1 if x >= 0 else -1)

        selected: list[int] = []
        want = []
        candidates = sorted(vecs)
        for pos in range(1, 9):
            best, best_score = None, None
            for c in candidates:
                if c in selected:
                    continue
                max_sim = max((cos(vecs[c], vecs[s_]) for s_ in selected), default=0.0)
                score = 0.7 * rel[c] - 0.3 * max_sim
                if best_score is None or score > best_score:
                    best, best_score = c, score
            selected.append(best)
            want.append((best, pos))
        assert [(r["vec_id"], r["position"]) for r in got] == want

    def test_diversifies_vs_plain_topk(self, spark, sf_dir):
        """The MMR set's max pairwise similarity should not exceed the
        plain top-k set's (that's the whole point of the penalty)."""
        from data_pipeline_with_spark_kafka_spark.operators import mmr
        from data_pipeline_with_spark_kafka_spark.operators import similarity as s

        emb, q = self._pool(spark, sf_dir)
        sel = {
            r["vec_id"]
            for r in mmr.mmr_select(
                emb, "vec_id", "embedding", q, k=8, pool=30, lam=0.7
            ).collect()
        }
        topk = {
            r["vec_id"]
            for r in s.vector_topk(emb, "vec_id", "embedding", q, k=8).collect()
        }
        vecs = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id").isin(list(sel | topk))).collect()
        }

        def max_pair(ids):
            ids = sorted(ids)
            best = -1.0
            for i, a in enumerate(ids):
                for b in ids[i + 1 :]:
                    va, vb = vecs[a], vecs[b]
                    best = max(
                        best,
                        float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))),
                    )
            return best

        assert max_pair(sel) <= max_pair(topk) + 1e-9


class TestMixtureAndNegatives:
    def test_temperature_softer_than_uniform(self, spark, sf_dir):
        """alpha=0.5 keeps MORE of the high-resource domains than the
        uniform-balance mixture (its whole purpose), while every domain's
        keep_frac stays in (0, 1]."""
        from data_pipeline_with_spark_kafka_spark.queries.llm_selection import (
            llm_mixture_temperature,
        )

        rows = llm_mixture_temperature(spark, sf_dir).collect()
        fracs = {r["lang"]: r["keep_frac"] for r in rows}
        assert all(0 < f <= 1.0 + 1e-9 for f in fracs.values())
        docs = load_table(spark, sf_dir, "documents")
        counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        biggest = max(counts, key=counts.get)
        smallest = min(counts, key=counts.get)
        # smallest domain is never downsampled harder than the biggest
        assert fracs[smallest] >= fracs[biggest]
        # temperature keeps a sqrt-scaled advantage: expected kept rows of
        # the biggest domain exceed the uniform mixture's (min-count) cap
        assert counts[biggest] * fracs[biggest] > counts[smallest] * 1.05

    def test_hard_negatives_cross_label_and_ranked(self, spark, sf_dir):
        from data_pipeline_with_spark_kafka_spark.queries.llm_selection import (
            llm_hard_negative_mining,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
        rows = llm_hard_negative_mining(spark, sf_dir).collect()
        assert len(rows) == 8 * 3
        for r in rows:
            assert labels[r["anchor_id"]] != r["negative_label"]
            assert labels[r["negative_id"]] == r["negative_label"]
        for a in {r["anchor_id"] for r in rows}:
            ranked = sorted(
                (r for r in rows if r["anchor_id"] == a), key=lambda r: r["rank"]
            )
            assert [r["rank"] for r in ranked] == [1, 2, 3]
            cos = [r["cosine"] for r in ranked]
            assert cos == sorted(cos, reverse=True)


def sq8_encode(vec: Column, mins: np.ndarray, scales: np.ndarray) -> Column:
    """array<double> -> array<smallint> of codes in [0, 255] (stored
    small; 255 fits a byte — smallint is the narrowest Spark array
    element type with headroom for the unsigned range)."""
    mn_lit, sc_lit = quantization._codebook_lits(mins, scales)

    def code(x, i):
        mn = F.element_at(mn_lit, (i + 1).cast("int"))
        sc = F.element_at(sc_lit, (i + 1).cast("int"))
        c = F.least(F.greatest(F.floor((x - mn) / sc + F.lit(0.5)), F.lit(0)), F.lit(255))
        return F.when(sc == 0, F.lit(0)).otherwise(c).cast("smallint")

    return F.transform(vec, code)


def sq8_decode(codes: Column, mins: np.ndarray, scales: np.ndarray) -> Column:
    """array<smallint> codes -> reconstructed array<double>."""
    mn_lit, sc_lit = quantization._codebook_lits(mins, scales)
    return F.transform(
        codes,
        lambda c, i: F.element_at(mn_lit, (i + 1).cast("int"))
        + c.cast("double") * F.element_at(sc_lit, (i + 1).cast("int")),
    )


class TestSQ8:
    def test_codes_within_byte_range_and_roundtrip_bound(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        v = sim.as_double(F.col("embedding"))
        enc = emb.select(
            sq8_encode(v, mins, scales).alias("codes"),
            F.zip_with(
                v,
                sq8_decode(
                    sq8_encode(v, mins, scales), mins, scales
                ),
                lambda a, b: F.abs(a - b),
            ).alias("err"),
        )
        row = enc.agg(
            F.min(F.array_min("codes")).alias("cmin"),
            F.max(F.array_max("codes")).alias("cmax"),
            F.max(F.array_max("err")).alias("emax"),
        ).collect()[0]
        assert 0 <= row["cmin"] and row["cmax"] <= 255
        # half a quantization step, plus fp slack
        assert row["emax"] <= scales.max() / 2 + 1e-9
        assert dict(enc.dtypes)["codes"] == "array<smallint>"

    def test_reconstruction_matches_numpy(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        rows = (
            emb.orderBy("vec_id")
            .limit(20)
            .select(
                "vec_id",
                sim.as_double(F.col("embedding")).alias("v"),
                quantization.sq8_reconstruct(
                    sim.as_double(F.col("embedding")), mins, scales
                ).alias("rv"),
            )
            .collect()
        )
        for r in rows:
            v = np.array(r["v"])
            codes = np.clip(
                np.floor(
                    np.divide(
                        v - mins, scales, out=np.zeros_like(v), where=scales != 0
                    )
                    + 0.5
                ),
                0,
                255,
            )
            want = np.where(scales == 0, mins, mins + codes * scales)
            np.testing.assert_allclose(np.array(r["rv"]), want, rtol=0, atol=1e-12)

    def test_topk_recall_vs_brute_force(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        sq = sim.vector_topk(
            emb,
            "vec_id",
            "embedding",
            q,
            k=10,
            prerank=sim.Adc(lambda v: quantization.sq8_reconstruct(v, mins, scales), pool=50),
        )
        bf = sim.vector_topk(emb, "vec_id", "embedding", q, k=10)
        sq_ids = {r["vec_id"] for r in sq.collect()}
        bf_ids = {r["vec_id"] for r in bf.collect()}
        # 8-bit codes leave ~1e-3 cosine error; with a 5x rerank pool the
        # exact top-10 should survive essentially always.
        assert len(sq_ids & bf_ids) / 10 >= 0.9

    def test_constant_dimension_zero_scale_guard(self, spark):
        """A dimension with max==min has scale 0 — codes must be 0 and the
        reconstruction must return the constant exactly (no 0/0 NaN)."""
        rows = [(i, [1.5, float(i)]) for i in range(4)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        mins, scales = quantization.sq8_train(df, "embedding", 2)
        assert scales[0] == 0.0
        got = df.select(
            quantization.sq8_reconstruct(F.col("embedding"), mins, scales).alias("rv")
        ).collect()
        for r in got:
            assert r["rv"][0] == 1.5
            assert not any(math.isnan(x) for x in r["rv"])

    def test_ivf_sq8_agrees_with_ivf_exact(self, spark, sf_dir):
        """IVF-SQ8 probes the same 3 cells as the exact IVF tier; the only
        extra error is the int8 codec, which the 5x rerank pool absorbs —
        the returned neighbor sets should be (near-)identical."""
        from data_pipeline_with_spark_kafka_spark.operators import clustering

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        rows = clustering.to_centroid_rows(
            clustering.kmeans_verified(emb, "vec_id", "embedding", k=8, iterations=2)
        )
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        sq = sim.vector_topk(
            emb,
            "vec_id",
            "embedding",
            q,
            k=10,
            probe=sim.Ivf(rows, n_probe=3),
            prerank=sim.Adc(lambda v: quantization.sq8_reconstruct(v, mins, scales), pool=50),
        )
        exact = sim.vector_topk(emb, "vec_id", "embedding", q, k=10, probe=sim.Ivf(rows, n_probe=3))
        sq_ids = {r["vec_id"] for r in sq.collect()}
        ex_ids = {r["vec_id"] for r in exact.collect()}
        assert len(sq_ids & ex_ids) / 10 >= 0.9

    def test_binary_sign_words_and_recall(self, spark, sf_dir):
        """Sign packing matches a direct numpy fold; Hamming pre-rank +
        pool-100 rerank recovers most of the exact top-10."""
        emb = load_table(spark, sf_dir, "embeddings")
        v = sim.as_double(F.col("embedding"))
        w = quantization.sign_words(v, 64)
        rows = (
            emb.orderBy("vec_id")
            .limit(10)
            .select("vec_id", v.alias("v"), w[0].alias("w1"), w[1].alias("w2"))
            .collect()
        )
        for r in rows:
            bits = ["1" if x >= 0 else "0" for x in r["v"]]
            assert r["w1"] == int("".join(bits[:32]), 2)
            assert r["w2"] == int("".join(bits[32:]), 2)
        q = emb.filter(F.col("vec_id") == 0)
        got = {
            r["vec_id"]
            for r in sim.vector_topk(
                emb, "vec_id", "embedding", q, k=10, prerank=sim.Hamming(dim=64, pool=100)
            ).collect()
        }
        bf = {r["vec_id"] for r in sim.vector_topk(emb, "vec_id", "embedding", q, k=10).collect()}
        assert len(got & bf) / 10 >= 0.8

    def test_error_audit_bounds(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        row = quantization.sq8_reconstruction_error(emb, "embedding", dim=64).collect()[0]
        assert row["dim"] == 64
        assert 0 <= row["mean_abs_err"] <= row["max_abs_err"]
        assert row["max_abs_err"] <= scales.max() / 2 + 1e-6


class TestPQ:
    def test_reconstruction_matches_numpy(self, spark, sf_dir):
        cb = quantization.fixture_pq_codebooks()
        assert cb is not None and cb.shape == (8, 16, 8)
        emb = load_table(spark, sf_dir, "embeddings")
        rows = (
            emb.orderBy("vec_id")
            .limit(20)
            .select(
                "vec_id",
                sim.as_double(F.col("embedding")).alias("v"),
                quantization.pq_reconstruct(
                    sim.as_double(F.col("embedding")), cb
                ).alias("rv"),
            )
            .collect()
        )
        for r in rows:
            v = np.array(r["v"])
            want = np.concatenate(
                [
                    cb[s][
                        (((v[s * 8 : s * 8 + 8] - cb[s]) ** 2).sum(axis=1)).argmin()
                    ]
                    for s in range(8)
                ]
            )
            np.testing.assert_allclose(np.array(r["rv"]), want, rtol=0, atol=1e-12)

    def test_topk_recall_vs_brute_force(self, spark, sf_dir):
        cb = quantization.fixture_pq_codebooks()
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        pq_res = sim.vector_topk(
            emb,
            "vec_id",
            "embedding",
            q,
            k=10,
            prerank=sim.Adc(lambda v: quantization.pq_reconstruct(v, cb), pool=50),
        )
        bf = sim.vector_topk(emb, "vec_id", "embedding", q, k=10)
        pq_ids = {r["vec_id"] for r in pq_res.collect()}
        bf_ids = {r["vec_id"] for r in bf.collect()}
        # 4-bit codes are lossier than SQ8; the 5x rerank pool still keeps
        # most of the exact top-10 on the clustered fixture corpus.
        assert len(pq_ids & bf_ids) / 10 >= 0.7

    def test_scan_is_maponly_with_takeordered(self, spark, sf_dir):
        cb = quantization.fixture_pq_codebooks()
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        plan = (
            sim.vector_topk(
                emb,
                "vec_id",
                "embedding",
                q,
                k=10,
                prerank=sim.Adc(lambda v: quantization.pq_reconstruct(v, cb), pool=50),
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_nan_vector_reconstructs_to_cid0_without_error(self, spark):
        """A NaN component makes every subspace distance NaN; the nanvl
        guard must map it to +inf so argmin stays total (cid 0) instead of
        element_at(cents, 0) raising mid-scan."""
        cb = quantization.fixture_pq_codebooks()
        dim = cb.shape[0] * cb.shape[2]
        vec = [float("nan")] + [0.0] * (dim - 1)
        df = spark.createDataFrame([(1, vec)], "id long, v array<double>")
        row = df.select(
            quantization.pq_reconstruct(F.col("v"), cb).alias("rv")
        ).first()
        # first subspace saw the NaN -> cid 0; remaining subspaces are
        # all-zero inputs -> their true argmin centroid
        np.testing.assert_allclose(np.array(row["rv"][: cb.shape[2]]), cb[0][0])

    def test_truncated_codebook_fixture_raises(self):
        """A fixture missing (subspace, cid) pairs must fail loudly, not
        zero-fill centroids into plausible-looking reconstructions."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        import pytest

        name = "pq_codebooks_truncated_test"
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(quantization.__file__)))),
            "fixtures",
            f"{name}.parquet",
        )
        # m=2, k=2 implied by max ids, but only 3 of the 4 pairs present
        t = pa.table(
            {
                "subspace": [0, 0, 1],
                "cid": [0, 1, 1],
                "centroid": [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]],
            }
        )
        pq.write_table(t, path)
        try:
            with pytest.raises(ValueError, match="incomplete"):
                quantization.fixture_pq_codebooks(name)
        finally:
            os.unlink(path)


class TestIVFPQ:
    def test_agrees_with_flat_pq_on_probed_cells(self, spark, sf_dir):
        """IVF-PQ's top-10 must be the flat-PQ result restricted to the
        probed cells: every returned id carries the same exact cosine the
        brute-force ranking assigns it."""
        from data_pipeline_with_spark_kafka_spark.queries.llm_fast_paths import (
            _quantizer_rows,
        )

        cb = quantization.fixture_pq_codebooks()
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        rows = _quantizer_rows(emb, fixture="ivf_centroids_k8", k=8, iterations=2)
        ivf = sim.vector_topk(
            emb,
            "vec_id",
            "embedding",
            q,
            k=10,
            probe=sim.Ivf(rows, n_probe=3),
            prerank=sim.Adc(lambda v: quantization.pq_reconstruct(v, cb), pool=50),
        ).collect()
        assert len(ivf) == 10
        bf = {
            r["vec_id"]: r["cosine"]
            for r in sim.vector_topk(
                emb, "vec_id", "embedding", q, k=200
            ).collect()
        }
        hits = [r for r in ivf if r["vec_id"] in bf]
        # probing 3/8 cells of a clustered corpus keeps most of the true
        # neighborhood; exact cosines must agree where both rank the id
        assert len(hits) >= 7
        for r in hits:
            assert abs(r["cosine"] - bf[r["vec_id"]]) < 1e-9
