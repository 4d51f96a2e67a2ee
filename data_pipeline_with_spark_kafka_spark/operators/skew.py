"""Key-skew probes and the sequence-family router (SURVEY.md §4.2 [EXT]).

AQE's skew-join split covers sort-merge joins at runtime and stays near
flat as a hot key grows (BASELINE.md "skew crossover"), so no query salts
its keys. What AQE cannot fix is a window partition: a lifetime
``Window.partitionBy(user)`` puts one hot user's rows in one task. The
probes here measure that skew (the hottest key's share of rows, and how
much of it falls on one calendar day) and ``choose_sequence_plan`` uses
them to pick the lifetime, day-bucketed or hour-bucketed twin of the
attribution, Markov and session queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dominant_key_share(
    df: DataFrame,
    key: str,
    *,
    sample_fraction: float | None = None,
) -> float:
    """Fraction of rows owned by the single hottest ``key`` value — the
    scalar behind the sequence family's operating rule (BASELINE.md
    "hot-user sequence-window bound"): lifetime windows by default,
    day-bucketed twins once one key dominates.

    One groupBy + a 2-value aggregate (max group size, total rows) — a
    single shuffle pass, map-side combinable. At 100 TB pass
    ``sample_fraction`` to probe a deterministic Bernoulli sample
    instead (seed fixed: the probe is retry-stable); the share estimate
    of a genuinely dominant key is robust under uniform sampling.
    Returns 0.0 for an empty input."""
    probe = df.select(key)
    if sample_fraction is not None:
        probe = probe.sample(fraction=sample_fraction, seed=8)
    row = (
        probe.groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"), F.sum("c").alias("n"))
        .first()
    )
    if row is None or not row["n"]:
        return 0.0
    return float(row["m"]) / float(row["n"])


def hot_key_day_concentration(
    df: DataFrame,
    key: str,
    ts_col: str,
    *,
    sample_fraction: float | None = None,
) -> float:
    """Fraction of the single hottest ``key``'s rows that land in its
    busiest calendar day — the second probe behind the day-vs-hour
    bucket decision (round 10): a multi-day bot spreads over days (low
    concentration, day buckets split it), a single-day bot concentrates
    (high concentration — its hot day IS the day twin's straggler, so
    the bucket must drop to hours; measured in BASELINE.md "one-day
    90%-hot": day twin 14.8 s vs hour twin 4.1 s).

    Two bounded jobs over the (sampled) key/day projection: the hot key
    from one groupBy (max_by), then that key's per-day max/total. Both
    map-side combinable; the probe never touches other columns. Returns
    0.0 for an empty input.

    Round 11 (advice fix): NULL is a real key (Window partitions treat
    it as one group, and the twins sessionize it), so the hot-key
    election includes it — the NULL-vs-empty ambiguity of ``max_by``
    returning NULL is resolved by summing counts in the same aggregate —
    and ties on the count break deterministically on the key itself
    (NULL losing: struct ordering sorts NULL first, max picks last),
    matching ``sequence_skew_profile`` exactly on every corpus."""
    probe = df.select(F.col(key).alias("__k"), F.to_date(F.col(ts_col)).alias("__d"))
    if sample_fraction is not None:
        probe = probe.sample(fraction=sample_fraction, seed=8)
    hot = (
        probe.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.max_by(F.struct("__k"), F.struct("c", "__k")).alias("hot"),
            F.sum("c").alias("n"),
        )
        .first()
    )
    if hot is None or not hot["n"]:
        return 0.0
    hot_k = hot["hot"]["__k"]
    # F.lit(None) is a typeless NULL literal; use isNull() when the hot
    # key itself is NULL so the filter keeps a concrete predicate.
    hot_pred = F.col("__k").isNull() if hot_k is None else F.col("__k").eqNullSafe(F.lit(hot_k))
    row = (
        probe.filter(hot_pred)
        .groupBy("__d")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"), F.sum("c").alias("n"))
        .first()
    )
    if row is None or not row["n"]:
        return 0.0
    return float(row["m"]) / float(row["n"])


def sequence_skew_profile(
    df: DataFrame,
    key: str,
    ts_col: str,
    *,
    sample_fraction: float | None = None,
) -> tuple[float, float]:
    """(dominant-key share, that key's busiest-day concentration) in ONE
    scan of the (sampled) key/day projection — the fused form of
    ``dominant_key_share`` + ``hot_key_day_concentration`` the router
    uses when both probes are needed (separate calls would scan the
    sample three times; at 100 TB the sample scan dominates the probe
    cost). Two bounded shuffles after the scan: a (key, day) count
    (keys x active-days-sized, map-side combinable) and a per-key
    rollup; the final reduce is a 3-value aggregate.

    Agreement contract (round 11): the hot-key election here and in the
    standalone probes is the SAME deterministic rule — NULL keys
    included (they are real Window partition groups), count ties broken
    on the key value (NULL losing) — so the fused and separate probe
    paths can never route a query differently."""
    probe = df.select(F.col(key).alias("__k"), F.to_date(F.col(ts_col)).alias("__d"))
    if sample_fraction is not None:
        probe = probe.sample(fraction=sample_fraction, seed=8)
    per_key = (
        probe.groupBy("__k", "__d")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__k")
        .agg(F.sum("c").alias("n_k"), F.max("c").alias("m_kd"))
    )
    row = per_key.agg(
        F.sum("n_k").alias("n"),
        F.max("n_k").alias("m"),
        F.max_by(F.struct("m_kd", "n_k"), F.struct("n_k", "__k")).alias("hot"),
    ).first()
    if row is None or not row["n"]:
        return 0.0, 0.0
    share = float(row["m"]) / float(row["n"])
    hot = row["hot"]
    conc = float(hot["m_kd"]) / float(hot["n_k"]) if hot and hot["n_k"] else 0.0
    return share, conc


def choose_sequence_plan(
    df: DataFrame,
    key: str,
    lifetime,
    bucketed,
    *,
    hourly=None,
    ts_col: str | None = None,
    threshold: float = 0.35,
    day_threshold: float = 0.5,
    sample_fraction: float | None = None,
):
    """Pick the lifetime-window or day-bucketed builder by measured key
    skew — the executable form of the twins' operating rule. The
    measured single-box crossover for the attribution/Markov/session
    family is hot_frac ~0.35 (tools/hot_user_skew.py); below it the
    lifetime window's single shuffle wins, above it the bucketed twin's
    splittable partitions do (and the gap widens with cluster size,
    because the straggler stays one task while everything else scales).

    Round 10: pass ``hourly`` (+ ``ts_col``) to enable the three-way
    rule — when the key is hot AND the hot key concentrates >=
    ``day_threshold`` of its rows in one calendar day (the
    day-bucket-defeating single-day bot, probed by
    ``hot_key_day_concentration``), route to the hour-bucketed twin
    instead (measured: lifetime 10.4 s / day 14.8 s / hour 4.1 s on the
    one-day 90%-hot corpus).

    All builders MUST be exact twins (the bucketed queries share the
    lifetime oracles — hash-equality is the proof), so this choice can
    never change results, only the plan. Returns (chosen_callable,
    measured_share)."""
    if hourly is not None and ts_col is not None:
        # fused probe: one sample scan answers both questions
        share, conc = sequence_skew_profile(
            df, key, ts_col, sample_fraction=sample_fraction
        )
        if share < threshold:
            return lifetime, share
        return (hourly if conc >= day_threshold else bucketed), share
    share = dominant_key_share(df, key, sample_fraction=sample_fraction)
    return (bucketed if share >= threshold else lifetime), share
