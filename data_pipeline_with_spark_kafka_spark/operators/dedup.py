"""Deduplication operators for LLM training-data pipelines.

Four tiers, all built from public DataFrame APIs:

1. **Exact** — hash group-by on content (or md5 fingerprint), keep the
   deterministic min-id representative. One shuffle on the content hash.
2. **N-gram Jaccard / containment (exact near-dup)** — prefix-filtered
   inverted-index self-join on distinct k-gram shingles, then exact
   verification of each candidate pair. SQL-expressible, so it doubles
   as the DuckDB-oracle ground truth for the probabilistic tiers.
3. **MinHash + LSH (scalable near-dup)** — per-doc minhash signature,
   banded into buckets; only docs sharing a band bucket become candidate
   pairs, then candidates are verified with exact Jaccard. At 100 TB the
   band join touches only bucket collisions — never all pairs.
4. **SimHash** — sign-aggregated token-hash fingerprint; near-dups are
   pairs within Hamming distance d, blocked on the top 16 bits.

Every near-dup operator is assembled from one copy of each stage:

- ``_prefix_index`` — the persisted hashed-shingle sets, the shingle
  frequency table and the rarest-first prefix (tier 2, both measures);
- ``band_buckets`` + ``_band_self_join`` — the LSH band index and its
  candidate self-join (tier 3, both hash families; the band index is
  also the persisted corpus index of ``operators/incremental.py``);
- ``verified_pairs`` — joins both shingle-set arrays back onto candidate
  pairs and keeps ``ROUND(measure, 4) >= threshold`` (tiers 2 and 3 and
  the incremental probe).

Tiers 3 and 4 take ``family="xxhash64" | "md5"``. xxhash64 is the fast
default; md5 is the one string hash every SQL engine computes
identically, so the md5 family's intermediate values (signatures,
fingerprints) are reproducible in plain SQL. Both families are
DuckDB-oracled (xxhash64 through ``queries/xxh64_sql.py``).

Design notes for 1000-executor scale:
- every self-join is preceded by an explode on a key that distributes
  (shingle / band bucket / simhash prefix) — no cartesian anywhere;
- hub shingles (stopword-ish grams shared by thousands of docs) never
  drive candidate generation: the prefix holds each doc's rarest
  shingles, so fan-out is bounded by rare-shingle frequencies;
- signatures are fixed-width arrays, never per-row Python.

Cache contract: tiers 2 and 3 ``persist()`` the relation that feeds both
sides of their self-join (shingle sets / signatures). The returned plan is
lazy, so the operator cannot unpersist for you — whoever materializes the
result owns the blocks (``spark.catalog.clearCache()`` between queries, as
bench.py does, or unpersist via the plan's cached ancestors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.iterate import (
    changed,
    collect_if_fits,
    iterate,
)
from data_pipeline_with_spark_kafka_spark.operators.text import (
    hashed_shingles,
    shingles,
    tokens,
)
from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.sources import memo
from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows

# 32 hashes in 16 bands of 2: the S-curve at J>=0.8 gives
# P(candidate) = 1-(1-J^2)^16 ~ 0.9997 — empirically identical pairs to a
# 64x(16x4) scheme on the corpus at half the hashing cost. Wider rows
# (fewer false candidates) only pay off when verification dominates, and
# verification here is a cheap long-array intersection.
NUM_HASHES = 32
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS

# Verification compares the measure rounded to DIGITS decimals (the
# oracles' ROUND(x, 4)). A pair whose exact measure sits up to
# ROUNDING_SLACK below the threshold still rounds up to it, so exact
# pre-filters derived from the threshold must be slacked by that much.
DIGITS = 4
ROUNDING_SLACK = 0.5 * 10 ** -DIGITS


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the min id.

    Returns (content-hash, keeper id, duplicate count).
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _hashed_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh): each doc's distinct k-gram shingles as xxhash64 longs,
    docs without a shingle dropped.

    Fused hashed-shingle build (round 13, guide §4.1): one interpreted
    lambda pass, distinct on 8-byte longs instead of strings, and NO array
    sort — nothing downstream reads the order (freq counts, the rarity
    window orders by (df_count, shingle), array_intersect is order-blind,
    the minhash seeds take array minima). The old
    array_sort(transform(shingles(...), xxhash64)) form cost ~0.3 s more
    per corpus scan at sf0.1."""
    return df.select(
        F.col(id_col).alias("doc"),
        hashed_shingles(tokens(F.col(text_col)), k).alias("sh"),
    ).filter(F.size("sh") > 0)


def _prefix_index(
    df: DataFrame, id_col: str, text_col: str, *, k: int, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PPJoin-family inverted index: (sets, index, prefix).

    - ``sets`` (doc, sh): the persisted hashed-shingle arrays;
    - ``index`` (doc, n_sh, shingle): every shingle occurrence;
    - ``prefix`` (doc, n_sh, shingle): each doc's first
      ``|d| - ceil(t*|d|) + 1`` shingles in rarest-first order (ties on
      the shingle hash). Any pair whose overlap measure relative to |d|
      reaches t must share a shingle of d's prefix, so candidate
      generation joins only prefixes — the low-frequency tail — and never
      joins through the hottest keys.

    At 100 TB the frequency table (one row per distinct shingle) shuffles
    on the same key the index already shuffles on, and the prefix index is
    ~(1-t) of the full index."""
    sets = _hashed_sets(df, id_col, text_col, k).persist()
    index = sets.select("doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    freq = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))

    rarity = Window.partitionBy("doc").orderBy("df_count", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    # No broadcast hint on freq: it has one row per DISTINCT shingle, which
    # scales with the corpus (billions at 100 TB). AQE will still broadcast
    # it at runtime when it is actually small.
    prefix = (
        index.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(rarity))
        .filter(F.col("rn") <= prefix_len)
        .select("doc", "n_sh", "shingle")
    )
    return sets, index, prefix


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _containment(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(a)


# measure name -> exact measure over two shingle-set array columns
MEASURES = {"jaccard": _jaccard, "containment": _containment}


def verified_pairs(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    *,
    threshold: float,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact verification of candidate pairs: (left, right, measure) for
    the pairs whose measure, rounded to DIGITS decimals, is >= threshold.

    ``candidates`` has two doc-id columns (left, right); ``sets_a`` /
    ``sets_b`` are (doc, sh) shingle-set relations for the left and right
    ids. The arrays are joined back AFTER candidate dedup, so wide rows
    never shuffle through the candidate explosion.

    Plain shuffle joins on the two id columns: a (doc, sh) relation is the
    FULL corpus and must never be broadcast — at 100 TB a broadcast here
    is an executor OOM by construction. AQE may still elect a broadcast at
    toy scale; that's its call, not a hint we bake in."""
    left, right = candidates.columns
    pairs = candidates.join(
        sets_a.select(F.col("doc").alias(left), F.col("sh").alias("sh_a")), left
    ).join(sets_b.select(F.col("doc").alias(right), F.col("sh").alias("sh_b")), right)
    value = MEASURES[measure](F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.withColumn(measure, round_to(value, DIGITS))
        .filter(F.col(measure) >= threshold)
        .select(left, right, measure)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via a prefix-filtered inverted-index
    self-join (the PPJoin-family construction).

    Naive inverted-index joins explode on hub shingles (cost ~ sum of
    squared document frequencies). Prefix filtering keeps exactness while
    skipping the hubs: for J(a,b) >= t it holds that
    ``|a ∩ b| >= t * max(|a|, |b|)``, so two qualifying docs MUST share a
    shingle among each doc's prefix (``_prefix_index``). Candidates are
    verified with the full (hashed) shingle arrays; results are identical
    to the naive join. Nothing in this operator is broadcast by hint; AQE
    may still elect broadcasts at small scale.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sets, _, prefix = _prefix_index(df, id_col, text_col, k=k, threshold=threshold)

    # PPJoin length filter fused into candidate generation (round 13,
    # guide §2.3 — shuffle fewer bytes into the verification joins):
    # J(a,b) >= t forces t*|a| <= |b| <= |a|/t (J <= min/max), so pairs
    # of incompatible sizes never leave the join. EXACT — a necessary
    # condition of the threshold, verified unchanged-results on the
    # fixture corpus (118,649 -> 43,440 candidate pairs at sf0.1; the
    # final 256-pair result is identical).
    tp = threshold - ROUNDING_SLACK
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.n_sh") >= tp * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= tp * F.col("b.n_sh")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return verified_pairs(candidates, sets, sets, threshold=threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: ordered (contained, container)
    pairs with C(a->b) = |Sa ∩ Sb| / |Sa| >= threshold.

    Containment is the asymmetric complement to Jaccard near-dup: a short
    document quoted wholesale inside a much longer one has low Jaccard
    (the union is dominated by the container) but containment ~1 — the
    copied-fragment / quote-expansion case every corpus dedup eventually
    needs and symmetric tiers can't see.

    Prefix filter (one-sided): C(a->b) >= t requires a and b to share a
    shingle among the CONTAINED doc's prefix — the container side has no
    such bound (any superset qualifies), so a's prefix joins b's FULL
    index. Candidate fan-out is bounded by the document frequency of a's
    rarest shingles, the same hub-avoidance as ``ngram_jaccard_pairs``;
    the verification join uses the full hashed shingle arrays, so results
    are identical to the naive ordered all-pairs definition
    (tests/test_dedup_adversarial.py pins this).

    Returns (doc_contained, doc_container, containment).
    """
    sets, index, prefix = _prefix_index(df, id_col, text_col, k=k, threshold=threshold)

    # Size filter fused into candidate generation: n_inter <= |Sb|, so
    # C(a->b) >= t forces |Sb| >= t*|Sa| — a container can't be (much)
    # smaller than what it contains. On size-varied corpora this halves
    # the candidate set before any array is shuffled.
    candidates = (
        prefix.alias("a")
        .join(index.alias("b"),
              (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc") != F.col("b.doc"))
              & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh")))
        .select(F.col("a.doc").alias("doc_contained"), F.col("b.doc").alias("doc_container"))
        .dropDuplicates(["doc_contained", "doc_container"])
    )
    return verified_pairs(candidates, sets, sets, threshold=threshold, measure="containment")


def _xxhash64_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """NUM_HASHES seeded xxhash64 minima over the hashed shingle set. Pure
    expression tree — evaluated in codegen, no UDF. Shingle strings are
    hashed to longs ONCE; the per-seed re-hashes then operate on 8-byte
    values (NUM_HASHES x cheaper than re-hashing strings)."""
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
        lambda seed: F.array_min(F.transform(F.col("sh"), lambda h: F.xxhash64(h, seed))),
    )
    sigs = _hashed_sets(df, id_col, text_col, k).select("doc", "sh", sig.alias("sig")).persist()
    return sigs.select("doc", "sh"), sigs


def _md5_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Kirsch-Mitzenmacher double hashing over md5: h1/h2 are the first
    two 32-bit words of md5(shingle) and ``h_i = (h1 + i*h2) mod 2^32``
    (Kirsch & Mitzenmacher, ESA 2006: two hashes generate a family with
    the same asymptotics). ``(h1 + 31*h2) < 2^37``, so the arithmetic is
    overflow-exact in any engine's 64-bit integers. The sets are the
    string shingles themselves.

    DISTINCT-SHINGLE-SPACE form (round 6): md5+conv is the expensive
    per-shingle step, and template-duplicated corpora — the whole reason
    a dedup pass exists — repeat shingles heavily across docs (sf0.1
    fixture: 260k occurrences over 27k distinct). Hash once per DISTINCT
    shingle, equi-join the (h1, h2) pair back to the occurrence stream,
    and fold the family as NUM_HASHES map-side-combined min aggregates per
    doc. Measured 3.8 -> 2.1 s at sf0.1 with an identical verified pair
    set; the per-occurrence expression form had to persist mid-pipeline
    anyway (seed lambdas re-inline their input), so the persisted sets
    replace that materialization."""
    sets = (
        df.select(F.col(id_col).alias("doc"), shingles(tokens(F.col(text_col)), k).alias("sh"))
        .filter(F.size("sh") > 0)
        .persist()
    )
    occ = sets.select("doc", F.explode("sh").alias("s"))
    digest = F.md5(F.col("s"))
    dist = occ.select("s").distinct().select(
        "s",
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    mod = F.lit(4294967296)
    sigs = (
        occ.join(dist, "s")
        .groupBy("doc")
        .agg(
            *[
                F.min((F.col("h1") + F.lit(i) * F.col("h2")) % mod).alias(f"_m{i}")
                for i in range(NUM_HASHES)
            ]
        )
        .select("doc", F.array(*[f"_m{i}" for i in range(NUM_HASHES)]).alias("sig"))
    )
    return sets, sigs


# hash family -> signature builder
MINHASH_FAMILIES = {"xxhash64": _xxhash64_signatures, "md5": _md5_signatures}


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 3, family: str = "xxhash64"
) -> tuple[DataFrame, DataFrame]:
    """(sets, sigs): the per-doc shingle sets (doc, sh) that verification
    reads, and the NUM_HASHES-wide minhash signatures (doc, sig, ...)
    under ``family``. One relation feeding both is persisted (cache
    contract above), so the corpus is tokenized once."""
    return MINHASH_FAMILIES[family](df, id_col, text_col, k)


def band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc, band, bucket) LSH band index from a (doc, sig) signature
    relation: each signature is sliced into BANDS bands of ROWS_PER_BAND
    values, each slice hashed to one bucket id. Two docs collide in a band
    iff that slice of their signatures is identical (or, for a different
    slice, on a 64-bit hash collision — verification drops any such pair).

    This narrow 3-column relation IS the persistable corpus index for
    batch-vs-corpus incremental near-dup (operators/incremental.py): write
    it (plus the shingle sets) once at corpus-curation time, probe it with
    each ingest batch's buckets."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.element_at("sig", b * ROWS_PER_BAND + r + 1) for r in range(ROWS_PER_BAND)]
            ).alias("bucket"),
        )
        for b in range(BANDS)
    ]
    return sigs.select("doc", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _band_self_join(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs, doc_a < doc_b: docs sharing at least
    one (band, bucket). Narrow relation only — shingle arrays are joined
    back after pair-dedup (``verified_pairs``)."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding: BANDS bands x ROWS_PER_BAND rows; two docs collide in a band
    iff that slice of their signatures is identical -> candidate. With
    NUM_HASHES=32 hashes / BANDS=16 bands (2 rows per band) the S-curve
    puts P(candidate) = 1-(1-J^2)^16 — ~0.9997 at J>=0.8 (our default
    threshold), ~50% at J~0.2. Both families verify with the same exact
    Jaccard, so where the S-curve saturates they return the same pairs
    (pinned in tests/test_llm_ops.py).
    """
    sets, sigs = minhash_signatures(df, id_col, text_col, k=k, family=family)
    candidates = _band_self_join(band_buckets(sigs))
    return verified_pairs(candidates, sets, sets, threshold=threshold)


def connected_components(
    edges: DataFrame,
    ids: DataFrame,
    id_col: str,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that turns
    PAIRS into DEDUP DECISIONS. Near-duplication is not transitive (A~B and
    B~C does not imply A~C) but a training corpus still needs one keeper per
    duplicate GROUP, so the standard pipeline clusters the pair graph and
    keeps the minimum id of each component.

    ``edges``: (doc_a, doc_b) pairs whose endpoints are all rows of
    ``ids``. ``ids``: one row per doc (singletons come out as their own
    component). Returns (doc, cluster_id).

    Two tiers, chosen once by ``iterate.collect_if_fits`` on the
    symmetric edge list itself (the pair graph's plan estimate is a
    self-join's product and says nothing; a near-duplicate clique of m
    docs is m(m-1)/2 edges, so the vertex count does not bound it
    either):

    - driver tier: ``_component_labels`` runs the same propagation in
      numpy over the collected edge list; ``ids`` is left-joined to
      those labels as a broadcast ``local_rows`` frame, a doc with no
      label labelled by itself, so ``ids`` is never collected;
    - distributed tier: iterative min-label propagation, pure DataFrame
      ops. Every doc starts labeled with its own id; each round every doc
      takes the min of its own label and its neighbors' labels. A doc
      whose neighbor offered a smaller label is a changed row, and the
      loop stops at the first round with none (labels only ever
      decrease). Rounds needed = graph diameter, which for dedup graphs is
      small (duplicate groups are near-cliques). Each round is one shuffle
      join + one aggregate, run by the shared driver in
      operators/iterate.py: the changed count rides the round's checkpoint
      job, and a graph whose diameter exceeds ``max_iterations`` raises
      instead of returning fragments (dedup would then keep one doc per
      FRAGMENT).

    The symmetric edge list is persisted before the bounded collect, so a
    graph past the bound is built once and its rounds read that cache.
    Both tiers return a local checkpoint, so a caller's plan over the
    components is a leaf, whichever tier built it.
    """
    # Both directions of each edge from one pass over ``edges`` (a union
    # of two projections would build the pair graph twice).
    both = F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
    )
    sym = edges.select(F.explode(both).alias("e")).select("e.src", "e.dst").persist()

    def relabel(labels: DataFrame) -> DataFrame:
        msgs = (
            sym.join(labels, sym["src"] == labels["doc"])
            .groupBy(F.col("dst").alias("doc2"))
            .agg(F.min("label").alias("nbr_min"))
        )
        # Each generation references the previous one TWICE (message
        # source + join base); the driver's lineage cut keeps the plan from
        # doubling per round.
        return labels.join(msgs, labels["doc"] == msgs["doc2"], "left").select(
            "doc",
            F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
            changed(F.col("nbr_min") < F.col("label")),
        )

    try:
        known = _component_labels(sym)
        if known is not None:
            id_type = ids.schema[id_col].dataType.simpleString()
            label_rows = local_rows(ids.sparkSession, known, f"doc {id_type}, label {id_type}")
            return (
                ids.select(F.col(id_col).alias("doc"))
                .join(F.broadcast(label_rows), "doc", "left")
                .select("doc", F.coalesce(F.col("label"), F.col("doc")).alias("cluster_id"))
                .localCheckpoint()
            )
        seed = ids.select(F.col(id_col).alias("doc"), F.col(id_col).alias("label"))
        labels = iterate(
            seed.localCheckpoint(), relabel, iterations=max_iterations, name="connected_components"
        )
    finally:
        sym.unpersist()
    return labels.select("doc", F.col("label").alias("cluster_id"))


@memo.memoized
def _component_labels(sym: DataFrame) -> list[tuple] | None:
    """``(doc, min doc of its component)`` for every endpoint of the
    symmetric edge list ``sym`` (src, dst) that is not that minimum
    itself, or None when the list does not fit on the driver
    (``iterate.collect_if_fits``).

    The same min-label propagation as the distributed tier, in numpy over
    doc indices (``np.unique`` sorts, so a smaller index is a smaller
    doc): each round every doc takes its neighbors' minimum label, then
    jumps to its label's label, until a round changes nothing. A label is
    always a doc of the same component and the component's minimum keeps
    its own, so the fixpoint labels every doc with that minimum. Memoized
    on the edge frame, whose plan is content (``ids`` is not), so a query
    that rebuilds the same pair graph reuses the labels, or the answer
    that they do not fit, without running it."""
    import numpy as np

    table = collect_if_fits(sym)
    if table is None:
        return None
    table = table.drop_null()  # a NULL endpoint joins no label either
    docs, index = np.unique(
        np.concatenate([table.column("src").to_numpy(), table.column("dst").to_numpy()]),
        return_inverse=True,
    )
    src, dst = index[: table.num_rows], index[table.num_rows :]
    label = np.arange(len(docs))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, src, label[dst])  # sym holds both directions
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            break
        label = nxt
    moved = label != np.arange(len(docs))
    return list(zip(docs[moved].tolist(), docs[label[moved]].tolist()))


# hash family -> (per-token hash as a SQL expression over token t,
# fingerprint width in bits). md5's token hash is the first 15 hex digits
# parsed as an integer: 60 bits, always positive — the same cross-engine
# hash the winnowing fingerprint uses (queries/text_extra.py).
SIMHASH_FAMILIES = {
    "xxhash64": ("xxhash64(t)", 64),
    "md5": ("CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)", 60),
}


def simhash(df: DataFrame, id_col: str, text_col: str, *, family: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint per doc, fully in expression land:
    bit_i = sign( sum_tokens (token_hash bit_i ? +1 : -1) ), with the
    token hash and width from ``SIMHASH_FAMILIES`` (64 bits for xxhash64,
    60 for md5). Token-hash bit i lands on fingerprint bit
    (width - 1 - i), which the DuckDB oracles mirror exactly.

    Written as a SQL lambda because the bit index is itself a lambda
    variable (the Python ``shiftright`` API only takes a literal count).
    Single pass over the tokens: each token is hashed ONCE and unpacked
    into a +-1 bit vector folded into a width-wide count accumulator (the
    naive per-bit formulation re-hashes every token once per bit).
    """
    token_hash, bits = SIMHASH_FAMILIES[family]
    fingerprint = F.expr(
        f"""
        aggregate(
          transform(
            aggregate(
              transform(split({text_col}, ' '), t -> {token_hash}),
              array_repeat(0, {bits}),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {bits - 1}), i ->
                  CASE WHEN (shiftright(h, CAST(i AS INT)) & 1L) = 1L THEN 1 ELSE -1 END),
                (a, b) -> a + b)),
            c -> CASE WHEN c > 0 THEN 1L ELSE 0L END),
          0L, (acc, b) -> shiftleft(acc, 1) | b)
        """
    )
    return df.select(F.col(id_col).alias("doc"), fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 6, family: str = "xxhash64"
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius, blocked on the top
    16 bits (docs differing there cannot be near at small radii ~always;
    standard multi-probe tradeoff, recall tested against exact Jaccard)."""
    _, bits = SIMHASH_FAMILIES[family]
    # Persist (cache contract above): both sides of the self-join read the
    # fingerprint relation — the bit-wide aggregate is the expensive part
    # and must not run twice.
    sh = simhash(df, id_col, text_col, family=family).withColumn(
        "block", F.shiftright("simhash", bits - 16)
    ).persist()
    a, b = sh.alias("a"), sh.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc") < F.col("b.doc")))
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"), "hamming")
    )


@memo.memoized
def _max_block_size(df: DataFrame, block_col: str) -> int:
    """Largest block cardinality — one narrow, map-side-combined aggregate
    over the block column (column-pruned scan; the driver receives one
    row). Used to decide, AQE-style, whether the triangle-task guard is
    needed at all: the common corpus takes the simple self-join plan, and
    only a corpus with an oversized block pays for the guard machinery.

    NOTE: this launches a Spark job at plan-BUILD time (memoized per
    input content, ``sources.memo``). Callers that must stay
    side-effect-free — the registered query corpus — pass an explicit
    ``guard=`` decision instead (derived from
    parquet footer metadata, see ``sources.tables.table_row_count``)."""
    row = df.groupBy(F.col(block_col)).agg(F.count(F.lit(1)).alias("n")).agg(
        F.max("n")
    ).collect()
    return int(row[0][0] or 0)


def _sub_block_tasks(e: DataFrame, *, max_block: int) -> DataFrame:
    """Split oversized blocks into bounded pair-comparison tasks.

    A block of n vectors costs O(n^2) pairs; an unbounded block (one hot
    label, one dense LSH bucket) concentrates that entire cost — and its
    memory — in ONE task. The guard salts each block into
    ``S = ceil(n / max_block)`` sub-blocks by id hash and decomposes the
    all-pairs comparison into the S*(S+1)/2 *triangle tasks* (ti <= tj):
    task (i, i) compares within sub-block i; task (i, j), i < j, compares
    sub-block i against sub-block j. Every unordered pair lands in exactly
    one task, and no task touches more than ``max_block^2`` pairs.

    Input must have columns (vid, block, ...); output adds
    ``_sub`` (this row's sub-block) and ``_ti``/``_tj`` (the task key; each
    row is replicated into the S tasks it participates in). Blocks at or
    under ``max_block`` get S=1 — a single (0, 0) task, zero replication.
    """
    counts = e.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
    salted = (
        e.join(counts, "block")
        .withColumn("_S", F.greatest(F.ceil(F.col("_bn") / F.lit(max_block)).cast("int"), F.lit(1)))
        .withColumn("_sub", F.pmod(F.xxhash64(F.col("vid")), F.col("_S")).cast("int"))
        .drop("_bn")
    )
    # Plain int-sequence explode + least/greatest columns (not a
    # transform-into-structs lambda): same task set, far simpler codegen.
    return (
        salted.withColumn("_t", F.explode(F.sequence(F.lit(0), F.col("_S") - 1)))
        .withColumn("_ti", F.least(F.col("_sub"), F.col("_t")))
        .withColumn("_tj", F.greatest(F.col("_sub"), F.col("_t")))
        .drop("_t", "_S")
    )


def embedding_near_dup_pairs_vectorized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    *,
    threshold: float = 0.4,
    max_block: int = 4096,
    guard: bool | None = None,
) -> DataFrame:
    """Numpy-BLAS variant of ``embedding_near_dup_pairs``: one matmul per
    pair-comparison task via ``applyInPandas`` instead of per-pair
    expression evaluation.

    This is the deliberate Pandas-UDF fast path (SURVEY.md §2.9 [EXT]) —
    an O(n^2 d) all-pairs kernel is exactly where vectorized BLAS beats
    codegen expression trees. Results equal the exact tier up to float
    summation order (tested with tolerance); the expression tier stays the
    bit-exact oracle.

    Blocks larger than ``max_block`` are decomposed into bounded triangle
    tasks (see ``_sub_block_tasks``) so a single hot block can never hand
    one Python worker an unbounded matmul.

    ``guard``: False -> plain one-task-per-block plan, True -> triangle
    machinery; None -> probe the data for the largest block (launches one
    cached Spark job at build time — pass an explicit value to keep plan
    construction side-effect-free).
    """
    import numpy as np
    import pandas as pd

    flat = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), F.col(block_col).alias("block")
    )
    if guard is None:
        guard = _max_block_size(df, block_col) > max_block
    if not guard:
        # No oversized block: every block is one (0, 0) task — skip the
        # counts-join/explode machinery (fewer stages to compile and run).
        e = flat.withColumn("_sub", F.lit(0)).withColumn("_ti", F.lit(0)).withColumn("_tj", F.lit(0))
    else:
        e = _sub_block_tasks(flat, max_block=max_block)

    def task_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64"),
             "block": pd.Series(dtype="int64"), "cosine": pd.Series(dtype="float64")}
        )
        block = pdf["block"].iloc[0]
        ti, tj = pdf["_ti"].iloc[0], pdf["_tj"].iloc[0]
        left = pdf[pdf["_sub"] == ti]
        if ti == tj:
            vecs = np.stack(left["v"].to_numpy()).astype(np.float64)
            ids = left["vid"].to_numpy()
            if len(ids) < 2:
                return empty
            norms = np.linalg.norm(vecs, axis=1)
            sims = (vecs @ vecs.T) / np.outer(norms, norms)
            iu, ju = np.triu_indices(len(ids), k=1)
            a, b = ids[iu], ids[ju]
            s = sims[iu, ju]
        else:
            right = pdf[pdf["_sub"] == tj]
            if left.empty or right.empty:
                return empty
            va = np.stack(left["v"].to_numpy()).astype(np.float64)
            vb = np.stack(right["v"].to_numpy()).astype(np.float64)
            sims = (va @ vb.T) / np.outer(
                np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1)
            )
            ia, jb = np.meshgrid(np.arange(len(left)), np.arange(len(right)), indexing="ij")
            a = left["vid"].to_numpy()[ia.ravel()]
            b = right["vid"].to_numpy()[jb.ravel()]
            s = sims.ravel()
        # enforce id ordering within each pair regardless of row order
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        s = np.round(s, 4)
        keep = s >= threshold
        return pd.DataFrame({"vec_a": lo[keep], "vec_b": hi[keep], "block": block, "cosine": s[keep]})

    return (
        e.groupBy("block", "_ti", "_tj")
        .applyInPandas(task_pairs, schema="vec_a long, vec_b long, block int, cosine double")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    *,
    threshold: float = 0.4,
    max_block: int = 4096,
    guard: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks (coarse partition —
    label, LSH bucket, or IVF cell). Cosine via zip_with/aggregate in
    codegen; the block key keeps the self-join off the full cross product.

    Blocks larger than ``max_block`` are decomposed into bounded triangle
    tasks (``_sub_block_tasks``): the self-join key becomes
    (block, ti, tj) with the left side playing the ti role and the right
    the tj role, so one pathological block (hot label / dense bucket) can
    never produce a single O(n^2) join partition. Results are identical —
    every unordered pair is generated exactly once.

    ``guard``: False -> plain block self-join, True -> triangle machinery;
    None -> probe the data for the largest block (one cached Spark job at
    build time — pass an explicit value for side-effect-free construction).
    """
    # Whole-array cast, not transform(x -> cast(x)): one Cast node instead
    # of a per-element lambda — measurably less generated code to compile.
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    base = df.select(
        F.col(id_col).alias("vid"), F.col(block_col).alias("block"), v.alias("v"), norm.alias("nrm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    if guard is None:
        guard = _max_block_size(df, block_col) > max_block
    if not guard:
        # No oversized block: the plain block self-join IS the bounded plan
        # — skip the guard machinery (half the stages to compile and run).
        a, b = base.alias("a"), base.alias("b")
        joined = a.join(
            b, (F.col("a.block") == F.col("b.block")) & (F.col("a.vid") < F.col("b.vid"))
        )
    else:
        e = _sub_block_tasks(base, max_block=max_block)
        # Role filters: a row acts as the task's left (ti) side iff its own
        # sub-block IS ti; symmetric for the right. Within-sub tasks
        # (ti == tj) dedup by id order; cross-sub tasks are already
        # unordered-unique by role, and id order there would drop pairs
        # whose ids sort against the role assignment.
        a = e.filter(F.col("_sub") == F.col("_ti")).alias("a")
        b = e.filter(F.col("_sub") == F.col("_tj")).alias("b")
        joined = a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a._ti") == F.col("b._ti"))
            & (F.col("a._tj") == F.col("b._tj"))
            & (
                (F.col("a._ti") < F.col("a._tj")) | (F.col("a.vid") < F.col("b.vid"))
            ),
        )
    return (
        joined.withColumn("cosine", round_to(dot / (F.col("a.nrm") * F.col("b.nrm")), 4))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least(F.col("a.vid"), F.col("b.vid")).alias("vec_a"),
            F.greatest(F.col("a.vid"), F.col("b.vid")).alias("vec_b"),
            F.col("a.block").alias("block"),
            "cosine",
        )
    )


def embedding_near_dup_pairs_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroid_rows: list,
    n_assign: int = 2,
    threshold: float = 0.4,
    max_block: int = 4096,
    guard: bool | None = None,
) -> DataFrame:
    """Embedding near-dup with LEARNED blocking — the 100-TB default.

    ``embedding_near_dup_pairs`` / ``..._vectorized`` take the block
    column as given, which on the fixtures means the ``label`` column — a
    luxury a real corpus doesn't have. This tier derives the block from
    the data itself: a k-means coarse quantizer (trained offline by
    ``clustering.kmeans_verified``) assigns every vector to its
    ``n_assign`` nearest cells via a zero-shuffle literal-centroid
    expression (``clustering.cell_multi_assign``), the BLAS pair kernel
    runs per cell with the same triangle-task guard for dense cells, and
    pairs discovered in more than one shared cell collapse via
    ``distinct``.

    Recall semantics: a pair is found iff the two vectors share at least
    one of their ``n_assign`` nearest cells — exact within-cell, approx
    across cells (tested >= 0.95 on cluster-structured corpora;
    tests/test_ivf_neardup.py). Cell granularity is the recall/cost dial:
    k should track corpus_size / target_cell_size, with ``n_assign``
    covering cell-boundary pairs.

    Returns (vec_a, vec_b, cosine) — the cell id is an internal blocking
    artifact, not an output column.
    """
    from data_pipeline_with_spark_kafka_spark.operators.clustering import cell_multi_assign

    assigned = cell_multi_assign(df, vec_col, centroid_rows, n_assign=n_assign, out_col="__cell")
    pairs = embedding_near_dup_pairs_vectorized(
        assigned, id_col, vec_col, "__cell",
        threshold=threshold, max_block=max_block, guard=guard,
    )
    return pairs.select("vec_a", "vec_b", "cosine").distinct()


def semantic_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroid_rows: list,
    threshold: float = 0.95,
    max_block: int = 4096,
    guard: bool | None = None,
) -> DataFrame:
    """SemDeDup-style semantic pruning: cluster the corpus with the
    offline coarse quantizer, then within each cluster KEEP only vectors
    that have no lower-id neighbor at cosine >= ``threshold``.

    This is the curation shape from the SemDeDup line of work (prune
    semantically redundant examples cluster-locally so the pair cost is
    ~n^2/k, never corpus-quadratic). The keep policy here is the
    join-expressible one-pass rule "drop any vector with a lower-id
    in-cluster neighbor above threshold" — deterministic and
    oracle-mirrorable as NOT EXISTS; it can prune slightly more than
    sequential greedy SemDeDup (a dropped vector still disqualifies its
    own neighbors), which is the conservative direction for dedup.

    Plumbing is the IVF near-dup tier with ``n_assign=1`` (single-cell
    membership — SemDeDup semantics): zero-shuffle literal-centroid
    assignment, BLAS pair kernel + triangle guard per cell, then one
    anti-join. Returns the KEPT rows (all original columns).
    """
    pairs = embedding_near_dup_pairs_ivf(
        df, id_col, vec_col,
        centroid_rows=centroid_rows, n_assign=1,
        threshold=threshold, max_block=max_block, guard=guard,
    )
    # vec_a < vec_b always, so the doomed set is exactly the b side.
    doomed = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    return df.join(doomed, id_col, "left_anti")
