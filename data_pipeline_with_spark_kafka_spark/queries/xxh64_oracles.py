"""DuckDB oracles for the xxhash64 *production* dedup tiers.

These assemble the compiled-XXH64 CTE blocks (``xxh64_sql``) into full
oracle statements for ``llm_dedup_simhash`` and ``llm_dedup_minhash_lsh``
— the one hash family of the dedup operators. Each oracle replays the
operator stage by stage in plain SQL; the hashes are:

- token/shingle hash: XXH64 over UTF-8 bytes, seed 42
  (``string_hash_ctes`` — recursive stripe loop + closed-form tail);
- minhash per-seed rehash: Spark's ``xxhash64(longcol, intcol)`` =
  hashInt(seed, hashLong(h, 42));
- band bucket: Spark's ``xxhash64(long, long)`` chain.

Spark-side parity pins (operators/dedup.py): NUM_HASHES=32, BANDS=16,
ROWS_PER_BAND=2; shingles are DISTINCT per doc (operators/text.py
``shingles(distinct=True)``), so sizes and intersections are set-based;
``array_min`` compares SIGNED longs, so minima are taken after the
signed conversion; simhash folds bit i of the token hash into
fingerprint bit (63 - i) and hashes every token OCCURRENCE (split, not
distinct).
"""

from __future__ import annotations

from data_pipeline_with_spark_kafka_spark.queries.xxh64_sql import (
    Emitter,
    long_hash_wrap,
    long_pair_hash_wrap,
    string_hash_ctes,
    to_signed,
    to_unsigned,
)


def simhash_xxh64_oracle() -> str:
    """Oracle for ``llm_dedup_simhash``: (doc, simhash BIGINT)."""
    pow_rows = ",\n        ".join(
        f"({i}, CAST({1 << i} AS HUGEINT), CAST({1 << (63 - i)} AS HUGEINT))" for i in range(64)
    )
    hash_block = string_hash_ctes("tx", "tok_occ", "t")
    return f"""
WITH RECURSIVE docs AS (
    SELECT doc_id AS doc, text FROM documents
), tok_occ AS (
    SELECT doc, unnest(string_split(text, ' ')) AS t FROM docs
), {hash_block.lstrip()},
pows(i, p, w) AS (
    VALUES {pow_rows}
), tokbit AS MATERIALIZED (
    SELECT t, i, CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END AS pm, w
    FROM tx_h, pows
), bits AS MATERIALIZED (
    SELECT o.doc, tb.i, tb.w, SUM(tb.pm) AS c
    FROM tok_occ o JOIN tokbit tb USING (t)
    GROUP BY o.doc, tb.i, tb.w
), fp0 AS MATERIALIZED (
    SELECT doc, SUM(CASE WHEN c > 0 THEN w ELSE CAST(0 AS HUGEINT) END) AS u
    FROM bits GROUP BY doc
)
SELECT d.doc, {to_signed('fp0.u')} AS simhash
FROM docs d LEFT JOIN fp0 ON fp0.doc = d.doc
"""


def minhash_lsh_xxh64_oracle(*, num_hashes: int = 32, threshold: float = 0.8) -> str:
    """Oracle for ``llm_dedup_minhash_lsh``: (doc_a, doc_b, jaccard)."""
    hash_block = string_hash_ctes("sx", "shd", "shingle")
    # The rehash chains run keyed by the 8-byte hash only: dragging the
    # shingle VARCHAR through the per-op projection levels costs a string
    # copy per row-level (measured ~5x the whole oracle's arithmetic).
    hl_sql, hl_col = long_hash_wrap("SELECT DISTINCT h FROM sx_h", "h")

    reh = Emitter("q")
    rh = reh.hash_int("seedv", "hl")
    reh_sql = reh.wrap("SELECT h, hl, CAST(seed AS HUGEINT) AS seedv, seed FROM seeded")

    bkt_base = (
        "SELECT doc, band, "
        + to_unsigned("m0")
        + " AS u0, "
        + to_unsigned("m1")
        + " AS u1 FROM bands"
    )
    bkt_sql, bkt_col = long_pair_hash_wrap(bkt_base, "u0", "u1")

    return f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shd AS MATERIALIZED (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
), {hash_block.lstrip()},
hl AS MATERIALIZED (
    SELECT h, {hl_col} AS hl FROM ({hl_sql}) hlz
), seeded AS (
    SELECT h, hl, s.seed
    FROM hl, (SELECT unnest(range(0, {num_hashes})) AS seed) s
), reh AS MATERIALIZED (
    SELECT h, seed, {to_signed(rh)} AS mh FROM ({reh_sql}) rhz
), docmin AS MATERIALIZED (
    SELECT sd.doc, r.seed, MIN(r.mh) AS mh
    FROM shd sd JOIN sx_h x USING (shingle) JOIN reh r USING (h)
    GROUP BY sd.doc, r.seed
), bands AS (
    SELECT doc, CAST(seed // 2 AS INT) AS band,
           MIN(CASE WHEN seed % 2 = 0 THEN mh END) AS m0,
           MIN(CASE WHEN seed % 2 = 1 THEN mh END) AS m1
    FROM docmin GROUP BY doc, CAST(seed // 2 AS INT)
), bkt AS MATERIALIZED (
    SELECT doc, band, {to_signed(bkt_col)} AS bucket FROM ({bkt_sql}) bkz
), cands AS MATERIALIZED (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bkt a JOIN bkt b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
), dh AS MATERIALIZED (
    SELECT DISTINCT sd.doc, x.h FROM shd sd JOIN sx_h x USING (shingle)
), sizes AS MATERIALIZED (
    SELECT doc, COUNT(*) AS n_sh FROM shd GROUP BY doc
), inter AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
    FROM cands c
    JOIN dh a ON a.doc = c.doc_a
    JOIN dh b ON b.doc = c.doc_b AND b.h = a.h
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = inter.doc_a
JOIN sizes sb ON sb.doc = inter.doc_b
WHERE ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= {threshold}
"""
