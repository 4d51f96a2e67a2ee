"""Similarity search over embedding columns (``array<float>``).

Cosine arithmetic is JVM expressions (``zip_with``/``aggregate``: codegen,
no Python). Single-query search is one filter-and-refine top-k,
``vector_topk``, with two parameters:

- **probe** (which rows are candidates): every row, the exact baseline
  every ANN variant is recall-tested against; random-hyperplane **LSH**,
  deterministic sign projections (``make_planes`` as array literals) with
  the query's bucket and its neighbours within a sign-bit radius; or
  **IVF** cells, a learned coarse quantizer (k-means centroid rows) whose
  assignment is ``clustering.cell_multi_assign``.
- **pre-rank** (how candidates are cut before the exact rerank): none;
  ADC cosine over a codec's reconstruction (SQ8 / PQ,
  ``operators/quantization.py``); or Hamming over packed sign words.

The multi-query form is the k-NN join (``knn_join_exact`` /
``knn_join_ivf``): a per-query window top-k instead of one global heap.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to


def as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pre(v: Column, n: Column, qvec: Column, qn: Column) -> Column:
    """``cosine`` with PRE-COMPUTED norms (round 13, guide §4.1): the
    inline form folds the 64-wide interpreted norm lambdas per PAIR —
    the query-side norm once per fact ROW (or per anchor copy in a
    multi-anchor cross join), the fact-side norm once per anchor. When
    the query relation is a broadcast literal/1-row relation, hoist
    ``qn = l2_norm(qvec)`` into it and ``n = l2_norm(v)`` into the fact
    projection, leaving only the dot fold per pair. FP-IDENTICAL to
    ``cosine`` — same expressions, same evaluation order, just bound to
    attributes first (measured 0.81 -> 0.61 s median on the hybrid
    dense branch at sf0.1)."""
    return dot(v, qvec) / (n * qn)


def hyperplane_signs(vec_col: Column, planes: np.ndarray) -> Column:
    """Bucket id = integer of sign bits of <plane_i, v>.

    Each plane is ONE array Literal (``F.lit(ndarray)`` — a Python list
    would desugar to CreateArray of dim element literals): at dim 512 x 8
    planes the per-element form put 4096 expression nodes into the tree,
    bloating analysis and codegen; a Literal is a single node regardless
    of dim."""
    acc = F.lit(0).cast("long")
    for plane in planes:
        plane_lit = F.lit(np.asarray(plane, dtype=np.float64))
        bit = F.when(dot(as_double(vec_col), plane_lit) >= 0, 1).otherwise(0)
        acc = acc * 2 + bit
    return acc


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic Rademacher(+-1) hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(n_planes, dim))


def make_planes_md5(dim: int, n_planes: int) -> np.ndarray:
    """CROSS-ENGINE Rademacher hyperplanes: sign(p, d) from the parity of
    the first hex digit of md5('rp{p}:{d}') — the same derivation DuckDB
    reproduces in SQL (substr(md5(...), 1, 1) parity), which makes the
    JL projection of queries/llm_lm_extra.py oracle-able. Hash-derived
    Rademacher entries have the same JL/angle-preservation guarantees as
    seeded-RNG ones."""
    import hashlib

    return np.array(
        [
            [
                1.0
                if int(hashlib.md5(f"rp{p}:{d}".encode()).hexdigest()[0], 16) % 2
                else -1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
    )


class Lsh(NamedTuple):
    """Probe: the rows whose ``hyperplane_signs`` bucket is within
    ``radius`` sign-bit flips of the query's (multi-probe LSH: the
    recall/candidate tradeoff is the radius, not a rebuild)."""

    planes: np.ndarray
    radius: int = 1


class Ivf(NamedTuple):
    """Probe: the members of the ``n_probe`` cells nearest the query, each
    row living in its one nearest cell."""

    centroid_rows: list
    n_probe: int


class Adc(NamedTuple):
    """Pre-rank: asymmetric (ADC) cosine of the full-precision query
    against ``reconstruct(v)``, a codec's decoded vector
    (``quantization.sq8_reconstruct`` / ``pq_reconstruct``)."""

    reconstruct: Callable[[Column], Column]
    pool: int


class Hamming(NamedTuple):
    """Pre-rank: Hamming distance between packed sign words
    (``quantization.sign_words``, ``dim`` a multiple of 32)."""

    dim: int
    pool: int


def vector_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 10,
    probe: Lsh | Ivf | None = None,
    prerank: Adc | Hamming | None = None,
) -> DataFrame:
    """Cosine top-``k`` of the rows of ``df`` against the first row of
    ``query_df``: filter, optionally pre-rank, refine exactly.

    - ``probe`` picks the candidates: every row (None), an LSH bucket
      radius, or IVF cells. Members and the query take their cells from
      the same literal-centroid argmin (``clustering.cell_multi_assign``),
      so no join touches the centroids.
    - ``prerank`` None ranks the candidates by exact cosine. Otherwise the
      candidates are cut to ``prerank.pool`` by the cheap score (ADC cosine
      descending, Hamming ascending), and only that pool is reranked by
      exact cosine to ``k``. The accepted pairs are none, ADC or Hamming
      over every row, and ADC over IVF cells.

    Returns ``(id, cosine)``, or ``(id, adc_cosine | hamming, cosine)``
    when pre-ranked; scores are rounded to 6 dp and ties go to the lower
    id, so the order is reproducible across engines.

    Plan shape: the query is ``limit(1)`` (GlobalLimit: the broadcast is
    bounded at any scale) and carries its norm and probe key, so each
    candidate pays one dot fold (``cosine_pre``). The corpus side is a
    narrow scan into per-partition top-n heaps (TakeOrderedAndProject),
    with no Exchange. A codec decodes only candidate rows (after the cell
    join), bound to an attribute before the cosine fold reads it twice:
    inlined, the whole codec tree re-evaluates per element (measured
    2.7 s vs 1.3 s warm for IVF-PQ on the sf0.1 corpus).
    """
    from data_pipeline_with_spark_kafka_spark.operators.clustering import cell_multi_assign
    from data_pipeline_with_spark_kafka_spark.operators.quantization import sign_words

    if probe is not None and prerank is not None and not (
        isinstance(probe, Ivf) and isinstance(prerank, Adc)
    ):
        raise ValueError(
            f"no {type(prerank).__name__} pre-rank over a {type(probe).__name__} probe"
        )
    v = as_double(F.col(vec_col))
    q = query_df.limit(1)
    fact_keys, query_keys, on = [], [], None
    if isinstance(probe, Ivf):
        df = cell_multi_assign(df, vec_col, probe.centroid_rows, n_assign=1, out_col="_cell")
        q = cell_multi_assign(
            q, vec_col, probe.centroid_rows, n_assign=probe.n_probe, out_col="_cell"
        )
        fact_keys, query_keys, on = ["_cell"], ["_cell"], "_cell"
    elif isinstance(probe, Lsh):
        bucket = hyperplane_signs(F.col(vec_col), probe.planes)
        fact_keys, query_keys = [bucket.alias("_bucket")], [bucket.alias("_qbucket")]
        on = F.bit_count(F.col("_bucket").bitwiseXOR(F.col("_qbucket"))) <= probe.radius
    if isinstance(prerank, Hamming):
        words = sign_words(v, prerank.dim)
        fact_keys += [w.alias(f"_w{i}") for i, w in enumerate(words)]
        query_keys += [w.alias(f"_qw{i}") for i, w in enumerate(words)]

    fact = df.select(F.col(id_col), v.alias("_v"), *fact_keys)
    q = q.select(v.alias("qvec"), *query_keys).withColumn("qn", l2_norm(F.col("qvec")))
    cand = fact.join(F.broadcast(q), on)

    def top(frame: DataFrame, key: Column, n: int) -> DataFrame:
        return frame.orderBy(key, F.col(id_col)).limit(n)

    exact = round_to(
        cosine_pre(F.col("_v"), l2_norm(F.col("_v")), F.col("qvec"), F.col("qn")), 6
    ).alias("cosine")
    if prerank is None:
        return top(cand.select(F.col(id_col), exact), F.col("cosine").desc(), k)
    if isinstance(prerank, Adc):
        cand = cand.withColumn("_rv", prerank.reconstruct(F.col("_v")))
        name = "adc_cosine"
        score = round_to(
            cosine_pre(F.col("_rv"), l2_norm(F.col("_rv")), F.col("qvec"), F.col("qn")), 6
        )
        key = F.col(name).desc()
    else:
        name = "hamming"
        score = reduce(
            operator.add,
            [F.bit_count(F.col(f"_w{i}").bitwiseXOR(F.col(f"_qw{i}"))) for i in range(len(words))],
        ).cast("int")
        key = F.col(name).asc()
    pooled = top(
        cand.select(F.col(id_col), "_v", "qvec", "qn", score.alias(name)), key, prerank.pool
    )
    return top(pooled.select(F.col(id_col), name, exact), F.col("cosine").desc(), k)


def knn_join_exact(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    *,
    k: int = 10,
    query_limit: int = 16,
) -> DataFrame:
    """Exact k-NN JOIN: top-k cosine neighbors for EVERY query vector (the
    batch form of ``vector_topk``, which answers one query).

    Shape: the query set is the small side (``limit(query_limit)`` makes
    that structural, so the broadcast is provably bounded); the corpus
    fans out once per query (narrow map — no corpus shuffle), and the
    per-query top-k is a row_number window on the query key, which Spark
    executes as WindowGroupLimit: each input partition keeps only its own
    top-k per query BEFORE the shuffle, so the exchange carries at most
    ``k x queries x partitions`` rows regardless of corpus size.

    Returns (query_id, neighbor id, cosine, rank); ranking key is the
    ROUNDED cosine with id tiebreak so the order is reproducible across
    engines (raw double ties at 1e-16 would make ranks nondeterministic).
    """
    from pyspark.sql import Window

    q = (
        queries_df.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
        )
        .limit(query_limit)
        .withColumn("qn", l2_norm(F.col("qvec")))
    )
    # Fact-side cast + norm hoisted BEFORE the query fan-out (cosine_pre
    # contract): without this, each corpus row re-runs the 64-wide
    # interpreted cast and norm folds once PER QUERY (16x here).
    fact = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    scored = (
        fact.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    centroid_rows: list,
    *,
    k: int = 10,
    n_probe: int = 3,
    query_limit: int = 16,
) -> DataFrame:
    """IVF approximate k-NN join: each corpus vector lives in its ONE
    nearest cell, each query probes its ``n_probe`` nearest cells, and the
    exact rerank runs only where they meet (equi-join on the cell id, not
    a cross join) — the candidate set shrinks ~k_cells/n_probe-fold.

    Same zero-shuffle literal-centroid assignment as the near-dup tier
    (``clustering.cell_multi_assign``); same WindowGroupLimit top-k as the
    exact tier, so output order and schema match and recall is directly
    measurable (tests/test_knn_join.py).
    """
    from pyspark.sql import Window

    from data_pipeline_with_spark_kafka_spark.operators.clustering import cell_multi_assign

    members = cell_multi_assign(corpus, vec_col, centroid_rows, n_assign=1, out_col="cell")
    q = (
        queries_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw"))
        .limit(query_limit)
    )
    probes = cell_multi_assign(q, "q_raw", centroid_rows, n_assign=n_probe, out_col="cell").select(
        "query_id", as_double(F.col("q_raw")).alias("qvec"), "cell"
    ).withColumn("qn", l2_norm(F.col("qvec")))
    # Same norm hoist as knn_join_exact: cast + norm once per member row,
    # not once per probe match.
    members = members.select(
        "cell", F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    scored = (
        members.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
