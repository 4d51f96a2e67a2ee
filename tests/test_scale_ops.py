"""Tests for the scale-hardening operators: the skew router and k-means +
IVF search (deterministic, sane recall vs brute force)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_pipeline_with_spark_kafka_spark.operators import clustering, quantization, similarity
from data_pipeline_with_spark_kafka_spark.operators.skew import (
    choose_sequence_plan,
    dominant_key_share,
)
from data_pipeline_with_spark_kafka_spark.sources import memo
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table


def test_hyperplane_signs_expression_tree_stays_bounded(spark):
    """At dim=512 the bucket expression must stay a handful of nodes per
    plane (one array Literal each), not dim x planes element literals —
    the per-element form bloated analysis and generated code (round-2
    verdict item 8)."""
    planes = similarity.make_planes(dim=512, n_planes=8)
    expr = similarity.hyperplane_signs(F.col("v"), planes)
    df = spark.createDataFrame([([0.0] * 512,)], "v array<double>").select(
        expr.alias("bucket")
    )
    analyzed = df._jdf.queryExecution().analyzed()
    # No CreateArray from the planes: each is a single array Literal.
    assert "array(" not in analyzed.toString()
    tree_lines = analyzed.expressions().head().numberedTreeString().count("\n") + 1
    # 8 planes x (when + comparison + dot-aggregate chain + ONE literal)
    # comfortably fits in a few hundred nodes; 4096 element literals do not.
    assert tree_lines < 500, f"bucket expression tree has {tree_lines} nodes"


def test_bucketed_range_join_boundary_sliver(spark):
    """An interval ending within a hair ABOVE a bucket boundary must still
    cover that boundary's bucket (the old epsilon-shave under-computed the
    last bucket and silently dropped points in the top sliver), while an
    interval ending EXACTLY on a boundary must not replicate into a bucket
    it cannot match."""
    from data_pipeline_with_spark_kafka_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    points = spark.createDataFrame([(20.0,), (19.5,), (25.0,)], "p double")
    intervals = spark.createDataFrame(
        [(5.0, 20.000000001, "sliver"), (0.0, 20.0, "exact")],
        "lo double, hi double, tag string",
    )
    got = {
        (r.p, r.tag)
        for r in bucketed_range_join(
            points, intervals, "p", "lo", "hi", bucket_width=10.0
        ).collect()
    }
    assert got == {(20.0, "sliver"), (19.5, "sliver"), (19.5, "exact")}


def test_bucketed_range_join_rejects_outer_modes(spark):
    """Outer modes would be silently wrong (residual filter drops the
    null-padded rows); the operator must refuse them."""
    import pytest

    from data_pipeline_with_spark_kafka_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    points = spark.createDataFrame([(1.0,)], "p double")
    intervals = spark.createDataFrame([(0.0, 2.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="inner"):
        bucketed_range_join(points, intervals, "p", "lo", "hi", bucket_width=1.0, how="left")


def test_kmeans_deterministic_and_partitions_data(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = clustering.kmeans_verified(emb, "vec_id", "embedding", k=8, iterations=3)
    memo.clear(spark)  # retrain, not a memo hit
    c2 = clustering.kmeans_verified(emb, "vec_id", "embedding", k=8, iterations=3)
    r1 = clustering.to_centroid_rows(c1)
    assert r1 == clustering.to_centroid_rows(c2)
    assert [cid for cid, _ in r1] == list(range(1, 9))  # empty cells are kept
    assert {len(c) for _, c in r1} == {64}
    # every vector lands in exactly one cell
    assert sum(n for _cid, dim, _x, n in c1 if dim == 0) == emb.count()


def test_ivf_topk_includes_query_and_overlaps_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(emb, "vec_id", "embedding", k=8, iterations=3)
    )
    ivf = [
        r.vec_id
        for r in similarity.vector_topk(
            emb, "vec_id", "embedding", query, k=10, probe=similarity.Ivf(rows, n_probe=3)
        ).collect()
    ]
    brute = [r.vec_id for r in similarity.vector_topk(emb, "vec_id", "embedding", query, k=10).collect()]
    assert 0 in ivf  # the query's own vector is always in its own cell
    recall = len(set(ivf) & set(brute)) / 10
    assert recall >= 0.1, f"IVF recall collapsed: {recall} (ivf={ivf}, brute={brute})"


@pytest.mark.parametrize("codec", [None, "sq8", "pq"], ids=["ivf", "ivf_sq8", "ivf_pq"])
def test_ivf_topk_plans_no_nested_loop_join(spark, sf_dir, codec):
    """Members and the query take their cells from the literal-centroid
    argmin, so the only join is the cell-id equi-join with the probes,
    with or without a codec pre-rank (IVF, IVF-SQ8, IVF-PQ)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = clustering.fixture_centroid_rows("ivf_centroids_k8")
    if codec == "sq8":
        mins, scales = quantization.sq8_train(emb, "embedding", 64)
        prerank = similarity.Adc(lambda v: quantization.sq8_reconstruct(v, mins, scales), pool=50)
    elif codec == "pq":
        cb = quantization.fixture_pq_codebooks()
        prerank = similarity.Adc(lambda v: quantization.pq_reconstruct(v, cb), pool=50)
    else:
        prerank = None
    out = similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        probe=similarity.Ivf(rows, n_probe=3),
        prerank=prerank,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "probe, prerank",
    [
        (similarity.Lsh(similarity.make_planes(64, 6)), similarity.Adc(lambda v: v, pool=50)),
        (similarity.Lsh(similarity.make_planes(64, 6)), similarity.Hamming(dim=64, pool=100)),
        (similarity.Ivf([(1, [0.0] * 64)], n_probe=1), similarity.Hamming(dim=64, pool=100)),
    ],
)
def test_vector_topk_rejects_unserved_pairs(spark, sf_dir, probe, prerank):
    """A pre-rank runs over every row, or ADC over IVF cells; the other
    probe x pre-rank pairs are refused before any plan is built."""
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="pre-rank over a"):
        similarity.vector_topk(emb, "vec_id", "embedding", emb, probe=probe, prerank=prerank)


def test_max_block_cache_is_bounded(spark, tmp_path):
    """The session memo holding the build-time probe must not grow without
    bound across many distinct plans (session-lifetime leak in a
    long-running service), must hit for a rebuilt plan over the same input,
    and must miss once the files under that input are rewritten."""
    from data_pipeline_with_spark_kafka_spark.operators import dedup
    from data_pipeline_with_spark_kafka_spark.sources import memo

    store = memo._store(spark)
    saved = dict(store)
    store.clear()
    try:
        for i in range(memo.CAPACITY + 10):
            # Distinct literal → distinct semantic plan hash per iteration.
            df = spark.range(2).withColumn("blk", F.lit(i) % 2)
            n = dedup._max_block_size(df, "blk")
            assert n == 2 if i % 2 == 0 else n >= 1
            assert len(store) <= memo.CAPACITY
        # Repeated probes of a rebuilt plan (in memory, then over a file)
        # do not grow the memo.
        path = str(tmp_path / "blocks.parquet")
        spark.createDataFrame([(0,), (0,), (1,)], "blk int").write.parquet(path)
        for build in (
            lambda: spark.range(2).withColumn("blk", F.lit(0)),
            lambda: spark.read.parquet(path),
        ):
            dedup._max_block_size(build(), "blk")
            size = len(store)
            dedup._max_block_size(build(), "blk")
            assert len(store) == size
        assert dedup._max_block_size(spark.read.parquet(path), "blk") == 2
        # Rewriting the files under the same path is a miss, not a stale hit.
        spark.createDataFrame([(5,)] * 3, "blk int").write.mode("overwrite").parquet(path)
        assert dedup._max_block_size(spark.read.parquet(path), "blk") == 3
    finally:
        store.clear()
        store.update(saved)


def test_dominant_key_share_measures_skew(spark):
    # 90 rows of user 0 + 10 distinct others -> share 0.9; uniform -> 1/n.
    hot = spark.createDataFrame(
        [(0,)] * 90 + [(i,) for i in range(1, 11)], "user_id long"
    )
    assert abs(dominant_key_share(hot, "user_id") - 0.9) < 1e-9
    uniform = spark.createDataFrame([(i,) for i in range(50)], "user_id long")
    assert abs(dominant_key_share(uniform, "user_id") - 0.02) < 1e-9
    empty = spark.createDataFrame([], "user_id long")
    assert dominant_key_share(empty, "user_id") == 0.0
    # deterministic under the fixed-seed sample probe
    s1 = dominant_key_share(hot, "user_id", sample_fraction=0.5)
    s2 = dominant_key_share(hot, "user_id", sample_fraction=0.5)
    assert s1 == s2


def test_choose_sequence_plan_picks_twin_by_measured_skew(spark, sf_dir):
    """The operating rule, executable: the chooser routes to the bucketed
    twin on hot-key data and the lifetime window otherwise — and because
    the twins share an oracle, the chosen plan's RESULT is identical
    either way (pinned here on the fixture)."""
    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_session_ids,
        events_session_ids_bucketed,
    )

    events = load_table(spark, sf_dir, "events")
    chosen, share = choose_sequence_plan(
        events, "user_id", events_session_ids, events_session_ids_bucketed
    )
    assert chosen is events_session_ids and share < 0.35  # fixture is uniform

    hot = events.withColumn(
        "user_id", F.when(F.rand(seed=1) < 0.8, F.lit(0)).otherwise(F.col("user_id"))
    )
    chosen_hot, share_hot = choose_sequence_plan(
        hot, "user_id", events_session_ids, events_session_ids_bucketed
    )
    assert chosen_hot is events_session_ids_bucketed and share_hot >= 0.35

    # exactness of the twin pair on the same input (sorted-row equality)
    a = sorted(map(tuple, events_session_ids(spark, sf_dir).collect()))
    b = sorted(map(tuple, events_session_ids_bucketed(spark, sf_dir).collect()))
    assert a == b


def test_choose_sequence_plan_three_way_routes_single_day_bots(spark, sf_dir):
    """Round 10: with the hourly twin + ts_col supplied, the router
    distinguishes the single-day bot (hot key concentrated in one
    calendar day -> hour buckets) from the multi-day bot (spread over
    days -> day buckets) and the uniform corpus (-> lifetime)."""
    import datetime as dt

    from data_pipeline_with_spark_kafka_spark.operators.skew import (
        choose_sequence_plan,
        hot_key_day_concentration,
    )
    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_session_ids,
        events_session_ids_bucketed,
        events_session_ids_bucketed_hourly,
    )

    def corpus(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp")

    base = dt.datetime(2024, 5, 1, 0, 0)
    # uniform: 60 users, one event each across days
    uniform = corpus(
        [(u, base + dt.timedelta(hours=u)) for u in range(60)]
    )
    # multi-day bot: user 0 owns 90% spread over 10 days
    multi = corpus(
        [(0, base + dt.timedelta(days=i % 10, minutes=i)) for i in range(90)]
        + [(u, base + dt.timedelta(hours=u)) for u in range(1, 11)]
    )
    # single-day bot: user 0 owns 90%, all inside one day
    single = corpus(
        [(0, base + dt.timedelta(minutes=i)) for i in range(90)]
        + [(u, base + dt.timedelta(days=1, hours=u % 20)) for u in range(1, 11)]
    )
    kw = dict(
        hourly=events_session_ids_bucketed_hourly,
        ts_col="ts",
    )
    chosen, share = choose_sequence_plan(
        uniform, "user_id", events_session_ids, events_session_ids_bucketed, **kw
    )
    assert chosen is events_session_ids and share < 0.35
    chosen, share = choose_sequence_plan(
        multi, "user_id", events_session_ids, events_session_ids_bucketed, **kw
    )
    assert chosen is events_session_ids_bucketed and share >= 0.35
    assert hot_key_day_concentration(multi, "user_id", "ts") <= 0.2
    chosen, share = choose_sequence_plan(
        single, "user_id", events_session_ids, events_session_ids_bucketed, **kw
    )
    assert chosen is events_session_ids_bucketed_hourly and share >= 0.35
    assert hot_key_day_concentration(single, "user_id", "ts") == 1.0
    # degenerate inputs return 0.0, not a crash
    empty = corpus([])
    assert hot_key_day_concentration(empty, "user_id", "ts") == 0.0

    # the fused single-scan profile agrees with the separate probes
    from data_pipeline_with_spark_kafka_spark.operators.skew import (
        dominant_key_share,
        sequence_skew_profile,
    )

    for c in (uniform, multi, single):
        share, conc = sequence_skew_profile(c, "user_id", "ts")
        assert abs(share - dominant_key_share(c, "user_id")) < 1e-9
        assert abs(conc - hot_key_day_concentration(c, "user_id", "ts")) < 1e-9
    assert sequence_skew_profile(empty, "user_id", "ts") == (0.0, 0.0)


def test_attribution_day_twin_null_user_prior_day(spark):
    """Round-10 regression pin: a NULL-user purchase with a prior-day
    NULL-user touch must be ATTRIBUTED by the day twin exactly like the
    lifetime carry (the window and the oracle treat NULL user_id as one
    partition group) — the probe join is null-safe. Out-of-window NULL
    users stay unattributed (null-safety must not over-attribute)."""
    import datetime as dt
    import os
    import tempfile

    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_attribution_last_touch,
        events_attribution_last_touch_bucketed,
    )

    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_attribution_last_touch_bucketed_hourly,
    )

    rows = [
        (1, None, dt.datetime(2024, 1, 3, 10, 0), "view", 1.0, None),
        (2, None, dt.datetime(2024, 1, 5, 10, 0), "purchase", 100.0, None),
        (3, 7, dt.datetime(2024, 1, 3, 10, 0), "view", 1.0, None),
        (4, 7, dt.datetime(2024, 1, 5, 10, 0), "purchase", 100.0, None),
        (5, None, dt.datetime(2024, 2, 1, 10, 0), "click", 1.0, None),
        (6, None, dt.datetime(2024, 2, 9, 11, 0), "purchase", 50.0, None),
    ]
    with tempfile.TemporaryDirectory() as root:
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        df.write.parquet(os.path.join(root, "events.parquet"))
        a = sorted(map(tuple, events_attribution_last_touch(spark, root).collect()))
        b = sorted(
            map(tuple, events_attribution_last_touch_bucketed(spark, root).collect())
        )
        c = sorted(
            map(
                tuple,
                events_attribution_last_touch_bucketed_hourly(spark, root).collect(),
            )
        )
        assert a == b == c
        # and the verdicts are the ones the lifetime semantics demand:
        # both in-window purchases attributed 'view', the 8-day one not
        by_type = {r[0]: r for r in a}
        assert by_type["view"][1] == 2
        assert by_type["unattributed"][1] == 1


def test_hourly_attribution_twin_exactness(spark, sf_dir):
    """The hour-bucketed attribution twin (round 10) is exact against the
    lifetime carry on organic data, and a crafted corpus pins each tier
    of the two-level decomposition: same-hour beats prior-hour, a
    prior-hour touch is found when the purchase's hour has no touch,
    prior-day recovery crosses the hour tiers, and the exact-7x24h
    lookback boundary behaves like the day twin's u1/u2 pins."""
    import datetime as dt
    import os
    import tempfile

    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_attribution_last_touch,
        events_attribution_last_touch_bucketed_hourly,
    )

    a = sorted(map(tuple, events_attribution_last_touch(spark, sf_dir).collect()))
    b = sorted(
        map(
            tuple,
            events_attribution_last_touch_bucketed_hourly(spark, sf_dir).collect(),
        )
    )
    assert a == b

    rows = [
        # u1: same-hour view must beat the prior-hour click
        (1, 1, dt.datetime(2024, 3, 1, 9, 10), "click", 1.0, None),
        (2, 1, dt.datetime(2024, 3, 1, 10, 5), "view", 1.0, None),
        (3, 1, dt.datetime(2024, 3, 1, 10, 30), "purchase", 100.0, None),
        # u2: purchase's hour has NO touch -> prior-hour click wins
        (4, 2, dt.datetime(2024, 3, 1, 8, 50), "click", 1.0, None),
        (5, 2, dt.datetime(2024, 3, 1, 11, 30), "purchase", 100.0, None),
        # u3: no touch that day -> prior-day view wins
        (6, 3, dt.datetime(2024, 2, 28, 23, 50), "view", 1.0, None),
        (7, 3, dt.datetime(2024, 3, 1, 0, 10), "purchase", 100.0, None),
        # u4: only touch exactly 7x24h back -> attributed (>= boundary)
        (8, 4, dt.datetime(2024, 3, 1, 12, 0), "view", 1.0, None),
        (9, 4, dt.datetime(2024, 3, 8, 12, 0), "purchase", 100.0, None),
        # u5: only touch 7x24h + 1s back -> unattributed
        (10, 5, dt.datetime(2024, 3, 1, 11, 59, 59), "click", 1.0, None),
        (11, 5, dt.datetime(2024, 3, 8, 12, 0), "purchase", 100.0, None),
        # u6: a touch AFTER the purchase must not attribute
        (12, 6, dt.datetime(2024, 3, 1, 14, 0), "purchase", 100.0, None),
        (13, 6, dt.datetime(2024, 3, 1, 14, 30), "view", 1.0, None),
    ]
    with tempfile.TemporaryDirectory() as root:
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        df.write.parquet(os.path.join(root, "events.parquet"))
        a = sorted(map(tuple, events_attribution_last_touch(spark, root).collect()))
        b = sorted(
            map(
                tuple,
                events_attribution_last_touch_bucketed_hourly(spark, root).collect(),
            )
        )
        assert a == b
        by_type = {r[0]: r[1] for r in a}
        # u1 view, u2 click, u3 view, u4 view attributed; u5, u6 not
        assert by_type == {"view": 3, "click": 1, "unattributed": 2}


def test_hourly_markov_twin_exactness(spark, sf_dir):
    """The hour-bucketed Markov twin is exact against the lifetime
    query on organic data (adjacent-pair recovery needs no gap
    condition, so any bucket size is exact)."""
    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_markov_transitions,
        events_markov_transitions_bucketed_hourly,
    )

    a = sorted(map(tuple, events_markov_transitions(spark, sf_dir).collect()))
    b = sorted(
        map(tuple, events_markov_transitions_bucketed_hourly(spark, sf_dir).collect())
    )
    assert a == b


def test_hourly_session_twin_exactness(spark, sf_dir):
    """The hour-bucketed fallback twin (round 10) is exact against both
    the lifetime window and the day twin on organic data — the boundary
    algebra is bucket-size-agnostic. A crafted single-day micro-corpus
    with gaps straddling hour boundaries (25-min gap across an hour
    edge -> merge; exactly-30-min -> merge, >30 -> split) pins the
    hour-boundary correction specifically."""
    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_session_ids,
        events_session_ids_bucketed_hourly,
    )

    a = sorted(map(tuple, events_session_ids(spark, sf_dir).collect()))
    b = sorted(
        map(tuple, events_session_ids_bucketed_hourly(spark, sf_dir).collect())
    )
    assert a == b

    import datetime as dt
    import os
    import tempfile

    rows = [
        # u1: 25-min gap across 10:00 -> one session (corr = -1)
        (1, 1, dt.datetime(2024, 3, 1, 9, 50)),
        (2, 1, dt.datetime(2024, 3, 1, 10, 15)),
        # u2: exactly 30-min gap across 11:00 -> one session (not > 30m)
        (3, 2, dt.datetime(2024, 3, 1, 10, 45)),
        (4, 2, dt.datetime(2024, 3, 1, 11, 15)),
        # u3: 40-min gap across 12:00 -> two sessions (corr = 0)
        (5, 3, dt.datetime(2024, 3, 1, 11, 50)),
        (6, 3, dt.datetime(2024, 3, 1, 12, 30)),
        # u4: 31-min gap WITHIN one hour bucket -> two sessions locally
        (7, 4, dt.datetime(2024, 3, 1, 13, 1)),
        (8, 4, dt.datetime(2024, 3, 1, 13, 32)),
        # u4 continues: 26 min later (same session, same hour), then
        # 22 min across 14:00 -> merges into the second session; the
        # per-hour offset must count the intra-hour session start (the
        # u11-analogue of the day_boundary corpus)
        (9, 4, dt.datetime(2024, 3, 1, 13, 58)),
        (12, 4, dt.datetime(2024, 3, 1, 14, 20)),
        # u5: same-ts tie exactly at an hour boundary
        (10, 5, dt.datetime(2024, 3, 1, 15, 0)),
        (11, 5, dt.datetime(2024, 3, 1, 15, 0)),
    ]
    with tempfile.TemporaryDirectory() as root:
        df = spark.createDataFrame(
            [(e, u, t, "view", 1.0, None) for e, u, t in rows],
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        df.write.parquet(os.path.join(root, "events.parquet"))
        a = sorted(map(tuple, events_session_ids(spark, root).collect()))
        b = sorted(
            map(tuple, events_session_ids_bucketed_hourly(spark, root).collect())
        )
        assert a == b
        # and the crafted shape really exercises merges/splits: u1,u2
        # one session; u3 two; u4 two (second spans the 14:00 boundary)
        n_sessions = {}
        for user_id, _seq, _n, _s, _e in a:
            n_sessions[user_id] = n_sessions.get(user_id, 0) + 1
        assert n_sessions == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_markov_auto_routes_all_three_twins(spark):
    """Round 11 (verdict task #3): the sessionization routing rule
    transfers to Markov — the router picks the lifetime window on
    uniform data, the day twin on a multi-day bot, and the hour twin on
    a single-day bot, and every route returns the identical transition
    matrix (the builders share MARKOV_ORACLE; equality pinned here on
    the crafted corpora via direct builder runs)."""
    import datetime as dt
    import os
    import tempfile

    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_markov_transitions,
        events_markov_transitions_bucketed,
        events_markov_transitions_bucketed_hourly,
    )

    base = dt.datetime(2024, 5, 1, 0, 0)
    types = ["view", "click", "purchase", "signup"]
    uniform = [(u, base + dt.timedelta(hours=u)) for u in range(60)]
    multi = [
        (0, base + dt.timedelta(days=i % 10, minutes=i)) for i in range(90)
    ] + [(u, base + dt.timedelta(hours=u)) for u in range(1, 11)]
    single = [(0, base + dt.timedelta(minutes=i)) for i in range(90)] + [
        (u, base + dt.timedelta(days=1, hours=u % 20)) for u in range(1, 11)
    ]
    expected = {
        "uniform": events_markov_transitions,
        "multi": events_markov_transitions_bucketed,
        "single": events_markov_transitions_bucketed_hourly,
    }
    corpora = {"uniform": uniform, "multi": multi, "single": single}
    for name, rows in corpora.items():
        df = spark.createDataFrame(
            [
                (i, u, t, types[i % 4], 1.0, None)
                for i, (u, t) in enumerate(rows)
            ],
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        chosen, _share = choose_sequence_plan(
            df,
            "user_id",
            events_markov_transitions,
            events_markov_transitions_bucketed,
            hourly=events_markov_transitions_bucketed_hourly,
            ts_col="ts",
        )
        assert chosen is expected[name], name
        # every route is exact: all three builders agree on this corpus
        with tempfile.TemporaryDirectory() as root:
            df.write.parquet(os.path.join(root, "events.parquet"))
            results = [
                sorted(map(tuple, b(spark, root).collect()))
                for b in (
                    events_markov_transitions,
                    events_markov_transitions_bucketed,
                    events_markov_transitions_bucketed_hourly,
                )
            ]
            assert results[0] == results[1] == results[2], name


def test_skew_probes_agree_on_null_and_tied_keys(spark):
    """Round 11 (advice fix): the fused profile and the standalone probes
    elect the SAME hot key when the dominant key is NULL (a real Window
    partition group — the old standalone probe returned 0.0 there while
    the fused path measured it) and when two keys tie on count (ties
    break on the key value, NULL losing), so the router's choice is
    path-independent on every corpus."""
    import datetime as dt

    from data_pipeline_with_spark_kafka_spark.operators.skew import (
        hot_key_day_concentration,
        sequence_skew_profile,
    )

    base = dt.datetime(2024, 5, 1, 0, 0)
    schema = "user_id long, ts timestamp"
    # NULL-dominant: 90 NULL-user rows, 60 on day 0 / 30 on day 1 -> the
    # hot key is NULL with day concentration 2/3
    null_hot = spark.createDataFrame(
        [(None, base + dt.timedelta(minutes=i)) for i in range(60)]
        + [(None, base + dt.timedelta(days=1, minutes=i)) for i in range(30)]
        + [(u, base + dt.timedelta(hours=u)) for u in range(1, 11)],
        schema,
    )
    share, conc = sequence_skew_profile(null_hot, "user_id", "ts")
    assert abs(share - 0.9) < 1e-9
    assert abs(conc - 2 / 3) < 1e-9
    assert abs(hot_key_day_concentration(null_hot, "user_id", "ts") - conc) < 1e-9
    assert abs(dominant_key_share(null_hot, "user_id") - share) < 1e-9
    # count tie between key 1 (spread over 2 days, conc 0.5) and key 2
    # (one day, conc 1.0): both paths must elect key 2 (max key wins)
    tied = spark.createDataFrame(
        [(1, base + dt.timedelta(days=i % 2, minutes=i)) for i in range(10)]
        + [(2, base + dt.timedelta(minutes=i)) for i in range(10)],
        schema,
    )
    _share_t, conc_t = sequence_skew_profile(tied, "user_id", "ts")
    assert conc_t == 1.0
    assert hot_key_day_concentration(tied, "user_id", "ts") == 1.0
    # NULL loses a tie against a non-NULL key in both paths
    null_tie = spark.createDataFrame(
        [(None, base + dt.timedelta(days=i % 2, minutes=i)) for i in range(10)]
        + [(5, base + dt.timedelta(minutes=i)) for i in range(10)],
        schema,
    )
    _share_n, conc_n = sequence_skew_profile(null_tie, "user_id", "ts")
    assert conc_n == 1.0
    assert hot_key_day_concentration(null_tie, "user_id", "ts") == 1.0


def test_sequence_twin_partition_bounds_single_day_bot(spark, tmp_path):
    """Round 11 (verdict task #4): the hour twins' 100-TB claim —
    "worst Window partition = the hot key's busiest hour/bucket" —
    asserted STRUCTURALLY via per-partition row bounds on the crafted
    single-day-bot corpus (tools/hot_user_skew.py's generator), the
    cluster-regime evidence local wall-clock cannot give: the lifetime
    window's worst partition is the whole hot user, the day twin's is
    identical on this shape (the bot's one day IS its lifetime — day
    buckets split nothing), and the hour twin's is capped by the bot's
    busiest hour (~1/24th). The groupBy keys are exactly the twins'
    Window.partitionBy keys (user_id; user_id+day; user_id+hour)."""
    from tools.hot_user_skew import gen_events

    sf = gen_events(str(tmp_path), 100_000, 0.9, single_day=True)
    events = load_table(spark, sf, "events")

    def max_partition(*keys):
        return (
            events.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c"))
            .first()[0]
        )

    hot_rows = events.filter(F.col("user_id") == 0).count()
    max_life = max_partition("user_id")
    max_day = max_partition("user_id", F.to_date("ts").alias("d"))
    max_hour = max_partition(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    assert max_life == hot_rows  # lifetime straggler = the whole bot
    assert max_day == hot_rows  # single-day bot: day buckets split NOTHING
    # hour buckets cap the straggler at the bot's busiest hour; uniform
    # over 24h -> ~hot_rows/24, assert a conservative 12x reduction
    assert max_hour * 12 <= max_life
    # and on the multi-day shape the DAY twin already splits the bot
    sf_multi = gen_events(str(tmp_path), 100_000, 0.9, single_day=False)
    multi = load_table(spark, sf_multi, "events")
    m_life = (
        multi.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .first()[0]
    )
    m_day = (
        multi.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .first()[0]
    )
    assert m_day * 15 <= m_life  # 30-day span -> >=15x smaller partitions
