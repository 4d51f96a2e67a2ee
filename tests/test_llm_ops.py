"""Property tests for the probabilistic / non-SQL-expressible LLM operators:
the tiers the DuckDB oracle can't check (seed-dependent hashing, ANN) are
tested against their exact counterparts and for deterministic invariants."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_pipeline_with_spark_kafka_spark.operators import dedup, multimodal, similarity
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table
from tools.xxh64_ref import spark_xxhash64


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates are verified with exact Jaccard, so LSH pairs must be
    a subset of the exact pairs; with 16 bands of 2 the S-curve at J>=0.8
    gives ~99.97% recall — on fixed seeds the result is deterministic, and
    on this corpus recall is total."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    assert lsh <= exact, f"LSH produced false positives: {lsh - exact}"
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_simhash_matches_pure_python(spark):
    """The 64-bit fingerprint equals a pure-Python reference built on
    ``tools.xxh64_ref.spark_xxhash64`` token hashes, including the
    bit-i -> position-(63-i) fold mapping the DuckDB oracle mirrors."""
    texts = ["spark row batch spark", "a", "join join join hash"]

    def ref(text):
        counts = [0] * 64
        for t in text.split(" "):
            h = spark_xxhash64(t)
            for i in range(64):
                counts[i] += 1 if (h >> i) & 1 else -1
        fp = 0
        for i in range(64):  # element i folds to significance 63-i
            fp = (fp << 1) | (1 if counts[i] > 0 else 0)
        return fp - (1 << 64) if fp >= 1 << 63 else fp  # as Spark's signed long

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc: r.simhash for r in dedup.simhash(df, "doc_id", "text").collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t), t


def test_simhash_identical_text_same_fingerprint(spark, docs):
    """A duplicated corpus (ids offset) yields pairwise-identical simhashes."""
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    fp = dedup.simhash(both, "doc_id", "text")
    joined = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.doc") + 1_000_000 == F.col("b.doc"))
        .filter(F.col("a.simhash") != F.col("b.simhash"))
    )
    assert joined.count() == 0


def test_exact_dedup_counts_duplicates(docs):
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    out = dedup.exact_dedup(both, "doc_id", "text")
    rows = out.collect()
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.keeper_id < 1_000_000 for r in rows)


def test_lsh_topk_recall_vs_brute_force(emb):
    query = emb.filter(F.col("vec_id") == 0)
    brute = [r.vec_id for r in similarity.vector_topk(emb, "vec_id", "embedding", query, k=10).collect()]
    approx = [r.vec_id for r in similarity.vector_topk(
        emb, "vec_id", "embedding", query, k=10, probe=similarity.Lsh(similarity.make_planes(64, 6))
    ).collect()]
    # The query vector itself always lands in its own bucket.
    assert 0 in approx
    # Deterministic seeded planes -> stable recall; require a sane floor
    # (random gaussian embeddings have no cluster structure, so multi-probe
    # LSH recall is modest by construction — the oracle tier is brute force).
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.1, f"ANN recall collapsed: {recall} (brute={brute}, approx={approx})"


def test_multimodal_decode_features_contract(docs):
    with_media = multimodal.attach_blob(docs, "doc_id", "text")
    feats = multimodal.fake_decode_features(with_media, "doc_id")
    meta = multimodal.blob_metadata(with_media, "doc_id")
    f_rows = {r.doc_id: r for r in feats.collect()}
    m_rows = {r.doc_id: r for r in meta.collect()}
    assert set(f_rows) == set(m_rows)
    for doc_id, fr in f_rows.items():
        assert len(fr.features) == 4
        assert fr.n_bytes == m_rows[doc_id].n_bytes
        assert fr.features[0] == float(fr.n_bytes)


def test_vectorized_embedding_pairs_equal_exact_tier(emb):
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding", "label", threshold=0.4).collect()
    }
    fast = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_near_dup_pairs_vectorized(
            emb, "vec_id", "embedding", "label", threshold=0.4
        ).collect()
    }
    assert set(exact) == set(fast)
    for k in exact:
        assert abs(exact[k] - fast[k]) <= 1e-4


def test_block_guard_pathological_block_same_pairs(emb):
    """One giant block (every vector shares it) — the worst case the
    max_block guard exists for. The sub-block triangle decomposition must
    return EXACTLY the pairs of the unguarded all-pairs comparison, and
    no task may see more than max_block rows per side."""
    from pyspark.sql import functions as F

    one_block = emb.withColumn("blk", F.lit(1))
    unguarded = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_near_dup_pairs(
            one_block, "vec_id", "embedding", "blk", threshold=0.2, max_block=1_000_000
        ).collect()
    }
    guarded = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_near_dup_pairs(
            one_block, "vec_id", "embedding", "blk", threshold=0.2, max_block=16
        ).collect()
    }
    assert unguarded and guarded == unguarded

    fast_guarded = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_near_dup_pairs_vectorized(
            one_block, "vec_id", "embedding", "blk", threshold=0.2, max_block=16
        ).collect()
    }
    assert set(fast_guarded) == set(unguarded)
    for k in unguarded:
        assert abs(fast_guarded[k] - unguarded[k]) <= 1e-4

    # the task relation itself: no (block, ti, tj) task holds more rows
    # than two sub-blocks' worth
    n = one_block.count()
    tasks = dedup._sub_block_tasks(
        one_block.select(
            F.col("vec_id").alias("vid"), F.col("blk").alias("block")
        ),
        max_block=16,
    )
    per_task = {(r["_ti"], r["_tj"]): r["count"] for r in tasks.groupBy("block", "_ti", "_tj").count().collect()}
    sub_sizes = {
        r["_sub"]: r["count"]
        for r in tasks.select("vid", "_sub").distinct().groupBy("_sub").count().collect()
    }
    import math

    s = math.ceil(n / 16)
    assert len(per_task) == s * (s + 1) // 2
    # exact replication contract: task (i,j) holds precisely sub-block i
    # plus sub-block j (i==j: just sub-block i) — nothing more
    for (ti, tj), cnt in per_task.items():
        expected = sub_sizes.get(ti, 0) if ti == tj else sub_sizes.get(ti, 0) + sub_sizes.get(tj, 0)
        assert cnt == expected, (ti, tj, cnt, expected)


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain (1-2, 2-3, 3-4: near-dup is NOT transitive but the
    group still clusters), a 2-clique, and singletons."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    comps = {
        r.doc: r.cluster_id
        for r in dedup.connected_components(edges, ids, "doc_id").collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_tiers_agree_on_random_graphs(spark, distributed_tier):
    """Label propagation in numpy on the driver and in distributed rounds
    gives the same label to every doc, over random sparse graphs with
    chains, cliques and singletons; the unforced call takes the driver
    tier."""
    import random

    from data_pipeline_with_spark_kafka_spark.operators.iterate import collect_if_fits
    from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 120
        pairs = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(90)}
        edges = local_rows(spark, sorted(pairs), "doc_a long, doc_b long")
        ids = local_rows(spark, [(i,) for i in range(n)], "doc_id long")
        assert collect_if_fits(edges) is not None
        driver = dedup.connected_components(edges, ids, "doc_id").collect()
        with distributed_tier():
            distributed = dedup.connected_components(edges, ids, "doc_id").collect()
        assert sorted(driver) == sorted(distributed)
        assert len(driver) == n


def test_component_labels_memoized_on_edge_content(spark, sf_dir):
    """The driver tier's labels are keyed on the edge frame's content: a
    pair graph rebuilt from the same files reuses them, which is how
    llm_cluster_aware_split reuses llm_dedup_clusters' components."""

    def pairs():
        docs = load_table(spark, sf_dir, "documents")
        edges = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
        return edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))

    labels = dedup._component_labels(pairs())
    assert labels is not None
    assert dedup._component_labels(pairs()) is labels


def test_connected_components_clique_past_the_bound_takes_distributed_tier(spark, monkeypatch):
    """The driver tier is bounded by the edge count, not the vertex count:
    a 12-doc clique plus one more edge is 134 symmetric edge rows, past a
    bound of 100 rows (24 bytes per two-long row), so it runs min-label
    propagation on ``iterate``; a 9-doc clique plus that edge (74 rows)
    stays on the driver. Both label every doc by its component's
    minimum."""
    from itertools import combinations

    from data_pipeline_with_spark_kafka_spark.sources import memo
    from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows

    rounds = []

    def recording_iterate(*args, **kwargs):
        rounds.append(kwargs["name"])
        return iterate(*args, **kwargs)

    iterate = dedup.iterate
    monkeypatch.setattr(dedup, "iterate", recording_iterate)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    memo.clear(spark)
    spark.conf.set(key, str(24 * 100))
    try:
        for m, tier in ((12, ["connected_components"]), (9, [])):
            rounds.clear()
            clique = list(combinations(range(100, 100 + m), 2))
            edges = local_rows(spark, clique + [(1, 2)], "doc_a long, doc_b long")
            ids = local_rows(spark, [(i,) for i in [1, 2, 3, *range(100, 100 + m)]], "doc_id long")
            comps = dedup.connected_components(edges, ids, "doc_id").collect()
            assert rounds == tier, m
            assert dict(comps) == {1: 1, 2: 1, 3: 3, **{d: 100 for d in range(100, 100 + m)}}
    finally:
        spark.conf.set(key, before)
        memo.clear(spark)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def fake_resize(df_with_media: DataFrame, id_col: str, *, width: int = 8, height: int = 8) -> DataFrame:
    """Resize stand-in over ``mapInPandas``: deterministic stride-sampling
    of the raw bytes down to width*height 'pixels'. A real implementation
    swaps the inner function for PIL/opencv; the Spark contract (Arrow
    batches in, fixed-shape binary out) is identical."""
    flat = df_with_media.select(F.col(id_col).alias("doc_id"), F.col("media.data").alias("data"))
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pixels = []
            for b in pdf["data"]:
                if len(b) == 0:
                    pixels.append(bytes(target))
                    continue
                step = max(len(b) // target, 1)
                sampled = bytes(b[min(i * step, len(b) - 1)] for i in range(target))
                pixels.append(sampled)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "pixels": pixels,
                }
            )

    return flat.mapInPandas(batches, RESIZE_SCHEMA)


def fake_frame_sample(df_with_media: DataFrame, id_col: str, *, frame_bytes: int = 16, every_n: int = 4) -> DataFrame:
    """Frame-sampling stand-in: treat the blob as a 'video' of fixed-size
    frames, emit every n-th frame as its own row (one-to-many mapInPandas —
    the same shape as real video keyframe extraction)."""
    flat = df_with_media.select(F.col(id_col).alias("doc_id"), F.col("media.data").alias("data"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["data"]):
                n_frames = max(len(b) // frame_bytes, 1)
                for fi in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(bytes(b[fi * frame_bytes : (fi + 1) * frame_bytes]))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return flat.mapInPandas(batches, FRAME_SCHEMA)


def test_multimodal_resize_and_frame_sample(docs):
    with_media = multimodal.attach_blob(docs.limit(20), "doc_id", "text")
    resized = fake_resize(with_media, "doc_id", width=8, height=8).collect()
    assert len(resized) == 20
    assert all(len(r.pixels) == 64 and r.width == 8 and r.height == 8 for r in resized)

    frames = fake_frame_sample(with_media, "doc_id", frame_bytes=16, every_n=4)
    rows = frames.collect()
    assert len(rows) > 20  # one-to-many expansion
    assert all(r.frame_idx % 4 == 0 for r in rows)
    assert all(len(r.frame) <= 16 for r in rows)


def test_seeded_sampling_properties(spark, sf_dir):
    from data_pipeline_with_spark_kafka_spark.queries.llm_sampling import (
        llm_seeded_sample,
        llm_stratified_sample,
        llm_train_val_test_split,
    )

    total = 500
    s1 = {r.doc_id for r in llm_seeded_sample(spark, sf_dir).collect()}
    s2 = {r.doc_id for r in llm_seeded_sample(spark, sf_dir).collect()}
    assert s1 == s2  # same seed -> same sample
    assert 0.1 * total < len(s1) < 0.3 * total  # ~20% Bernoulli

    strat = llm_stratified_sample(spark, sf_dir).groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in strat}
    assert set(by_lang) <= {"en", "de", "fr", "es", "zh"}

    # split partitions the corpus; ratios near 80/10/10
    splits = llm_train_val_test_split(spark, sf_dir).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in splits}
    assert sum(counts.values()) == total
    assert 0.7 < counts["train"] / total < 0.9
    assert 0.04 < counts["val"] / total < 0.16
    assert 0.04 < counts["test"] / total < 0.16


def test_decode_media_dispatch_and_codec_round_trips():
    import numpy as np

    # BMP round-trip: encode -> decode is the identity on (h, w, 3) uint8,
    # including non-multiple-of-4 row widths (BMP pads rows to 4 bytes).
    rng = np.random.default_rng(7)
    for w, h in [(16, 16), (5, 3), (1, 1), (7, 2)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = multimodal.decode_media("image/bmp", multimodal.encode_bmp(img))
        assert back.shape == (h, w, 3) and (back == img).all(), (w, h)

    # WAV round-trip: PCM-16 samples and rate survive.
    samples = (rng.integers(-1024, 1024, size=333)).astype("<i2")
    got, rate = multimodal.decode_media(
        "audio/wav", multimodal.encode_wav_pcm16(samples, 8000)
    )
    assert rate == 8000 and (got == samples).all()

    # Lossy codecs are honestly not implemented (PNG moved to the real
    # side in round 9 — its DEFLATE is stdlib zlib).
    with pytest.raises(NotImplementedError):
        multimodal.decode_media("image/jpeg", b"\xff\xd8\xff")
    with pytest.raises(ValueError):
        multimodal.decode_media("image/bmp", b"notabmp")


def test_png_codec_round_trip_and_all_filters():
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    # Round-trip: encode (filter 0 + DEFLATE) -> decode is the identity,
    # including 1-pixel and non-square shapes.
    for w, h in [(16, 16), (5, 3), (1, 1), (7, 2), (33, 9)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = multimodal.decode_media("image/png", multimodal.encode_png(img))
        assert back.shape == (h, w, 3) and (back == img).all(), (w, h)

    # All five scanline filters: hand-FILTER an image per spec (filter
    # type y % 5 on row y) with an independent pure-python reference,
    # then the numpy unfilter must reconstruct it exactly.
    w, h = 6, 5
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    stride = w * 3
    recon = img.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        f = y % 5
        out.append(f)
        prior = recon[y - 1] if y > 0 else np.zeros(stride, int)
        cur = recon[y]
        for x in range(stride):
            a = cur[x - 3] if x >= 3 else 0
            b = prior[x]
            c = prior[x - 3] if x >= 3 else 0
            if f == 0:
                v = cur[x]
            elif f == 1:
                v = (cur[x] - a) % 256
            elif f == 2:
                v = (cur[x] - b) % 256
            elif f == 3:
                v = (cur[x] - ((a + b) >> 1)) % 256
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (cur[x] - pred) % 256
            out.append(v)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert (multimodal.decode_png(png) == img).all()

    # Round 10: grayscale (type 0), gray+alpha (4) and RGBA (6) decode
    # through the same filter algebra with per-pixel stride 1/2/4.
    for ch in (1, 2, 4):
        img = rng.integers(0, 256, size=(5, 7, ch), dtype=np.uint8)
        back = multimodal.decode_png(multimodal.encode_png(img))
        assert back.shape == (5, 7, ch) and (back == img).all(), ch
    # 2-D grayscale input encodes as color type 0 and round-trips
    g2 = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    assert (multimodal.decode_png(multimodal.encode_png(g2))[:, :, 0] == g2).all()

    # Hand-filtered grayscale reference (stride 1: every filter's left
    # neighbor is the adjacent byte — the case the RGB test cannot cover).
    w, h = 6, 5
    gimg = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    grecon = gimg.astype(int)
    out = bytearray()
    for y in range(h):
        f = y % 5
        out.append(f)
        prior = grecon[y - 1] if y > 0 else np.zeros(w, int)
        cur = grecon[y]
        for x in range(w):
            a = cur[x - 1] if x >= 1 else 0
            b = prior[x]
            c = prior[x - 1] if x >= 1 else 0
            if f == 0:
                v = cur[x]
            elif f == 1:
                v = (cur[x] - a) % 256
            elif f == 2:
                v = (cur[x] - b) % 256
            elif f == 3:
                v = (cur[x] - ((a + b) >> 1)) % 256
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (cur[x] - pred) % 256
            out.append(v)
    gihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    gpng = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", gihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert (multimodal.decode_png(gpng)[:, :, 0] == gimg).all()

    # Unsupported PNG variants stay honestly rejected: palette (type 3,
    # needs a PLTE lookup) and 16-bit depth.
    pal_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    pal = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", pal_ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_png(pal)
    deep_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    deep = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", deep_ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_png(deep)
    with pytest.raises(ValueError):
        multimodal.decode_png(b"notapng")
    # encode side honors the same explicit contract (round-11 advice fix:
    # a 5-channel array used to die with a bare KeyError)
    import numpy as np

    with pytest.raises(NotImplementedError, match="1/2/3/4-channel"):
        multimodal.encode_png(np.zeros((2, 2, 5), dtype=np.uint8))
    with pytest.raises(NotImplementedError, match="1/2/3/4-channel"):
        multimodal.encode_png(np.zeros(4, dtype=np.uint8))


def test_image_pipeline_png_equals_bmp(spark):
    """The SAME pixel generator shipped as real PNGs must decode to the
    exact features the BMP path produces — pins the full Spark plumbing
    (encode -> Arrow -> zlib inflate -> unfilter -> stats) end to end."""
    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    rows = {}
    for mt in ("image/bmp", "image/png"):
        with_img = multimodal.attach_image_blob(
            ids, "doc_id", width=16, height=16, media_type=mt
        )
        feats = multimodal.image_features(with_img, "doc_id", thumb_w=4, thumb_h=4)
        rows[mt] = {
            r.doc_id: (r.width, r.height, r.mean_r, r.mean_g, r.mean_b, bytes(r.thumb))
            for r in feats.collect()
        }
    assert rows["image/bmp"] == rows["image/png"]


def test_image_pipeline_decodes_resizes_and_features(spark):
    import numpy as np

    ids = spark.range(12).withColumnRenamed("id", "doc_id")
    with_img = multimodal.attach_image_blob(ids, "doc_id", width=16, height=16)
    feats = {r.doc_id: r for r in multimodal.image_features(with_img, "doc_id", thumb_w=4, thumb_h=4).collect()}
    assert len(feats) == 12
    for doc_id, r in feats.items():
        # Recompute the deterministic gradient directly — the Spark path
        # (encode -> Arrow -> decode -> stats) must agree exactly.
        y, x, c = np.meshgrid(np.arange(16), np.arange(16), np.arange(3), indexing="ij")
        img = ((doc_id * 7 + y * 16 + x * 4 + c * 5) % 256).astype(np.uint8)
        means = img.reshape(-1, 3).mean(axis=0)
        assert (r.width, r.height) == (16, 16)
        assert abs(r.mean_r - means[0]) < 1e-9 and abs(r.mean_b - means[2]) < 1e-9
        yi, xi = (np.arange(4) * 16) // 4, (np.arange(4) * 16) // 4
        assert bytes(r.thumb) == img[np.ix_(yi, xi)].tobytes()


def test_audio_pipeline_decodes_rms(spark):
    import numpy as np

    ids = spark.range(8).withColumnRenamed("id", "doc_id")
    with_wav = multimodal.attach_audio_blob(ids, "doc_id", n_samples=256, sample_rate=8000)
    feats = {r.doc_id: r for r in multimodal.audio_features(with_wav, "doc_id").collect()}
    assert len(feats) == 8
    t = np.arange(256)
    for doc_id, r in feats.items():
        x = ((doc_id * 31 + t * 17) % 2048 - 1024).astype(np.float64)
        assert r.n_samples == 256 and r.sample_rate == 8000
        assert abs(r.rms - float(np.sqrt((x * x).mean()))) < 1e-9
        assert r.peak == int(np.abs(x).max())


def test_winnowing_fingerprint_deterministic_and_content_sensitive(spark, sf_dir):
    from data_pipeline_with_spark_kafka_spark.queries.text_extra import (
        llm_fingerprint_winnowing,
    )

    a = {r.doc_id: r.winnow_fp for r in llm_fingerprint_winnowing(spark, sf_dir).collect()}
    b = {r.doc_id: r.winnow_fp for r in llm_fingerprint_winnowing(spark, sf_dir).collect()}
    assert a == b  # rerun-stable (Arrow batching must not affect values)
    # identical texts -> identical fingerprints; the corpus' planted
    # near-dups are NOT identical, so fingerprints should mostly differ
    assert len(set(a.values())) > len(a) // 2


def test_hll_sketch_merge_tracks_exact_count(spark, sf_dir, duck):
    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    row = all_queries()["agg_hll_sketch_merge"].builder(spark, sf_dir).collect()[0]
    exact = duck.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    assert abs(row.approx_users - exact) <= max(0.05 * exact, 2), (row.approx_users, exact)


def test_weighted_quality_mean_matches_exact_formula(spark, sf_dir):
    from pyspark.sql import functions as F

    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.operators.text import quality_score, tokens
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

    got = {
        r.lang: r.weighted_mean_chars
        for r in all_queries()["llm_weighted_quality_mean"].builder(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r.lang: r.wm
        for r in docs.select(
            "lang",
            F.col("n_chars").cast("double").alias("c"),
            quality_score(F.col("text"), tokens(F.col("text"))).alias("q"),
        )
        .groupBy("lang")
        .agg((F.sum(F.col("c") * F.col("q")) / F.sum("q")).alias("wm"))
        .collect()
    }
    assert set(got) == set(exact)
    for lang in got:
        # the query rounds to 4 decimals at the boundary
        assert abs(got[lang] - exact[lang]) < 5.1e-5, (lang, got[lang], exact[lang])


def test_cluster_aware_split_never_straddles(spark, sf_dir):
    """Leakage-proofness: every member of a near-dup cluster gets the
    same split; plain per-doc splitting is exactly what this prevents."""
    from data_pipeline_with_spark_kafka_spark.queries.llm_sampling import (
        llm_cluster_aware_split,
    )

    rows = llm_cluster_aware_split(spark, sf_dir).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # the fixture corpus has real multi-doc clusters, so this test bites
    assert any(
        len([r for r in rows if r["cluster_id"] == c]) > 1 for c in by_cluster
    )
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
