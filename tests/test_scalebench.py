"""Scale-smoke harness internals: the relational smoke (round 12) runs
the REAL query functions against scaled sf_dir-shaped fact tables, so
its derivations carry correctness contracts of their own — replica key
shifts must keep joins within a replica (order-count ratio exactly the
factor), dims must stay unscaled, and the bench's core-seconds helper
must actually count this process tree's CPU."""

import os

import pytest
from pyspark.sql import functions as F

from zombi_spark.plans.scalebench import _scaled_facts_dir, relational_scale_smoke
from zombi_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_scaled_facts_dir_scales_facts_not_dims(spark, tmp_path):
    d1 = _scaled_facts_dir(spark, SF, str(tmp_path), 1)
    d3 = _scaled_facts_dir(spark, SF, str(tmp_path), 3)
    for t in ("orders", "customer", "events"):
        n1 = spark.read.parquet(os.path.join(d1, f"{t}.parquet")).count()
        n3 = spark.read.parquet(os.path.join(d3, f"{t}.parquet")).count()
        assert n1 == load_table(spark, SF, t).count()
        assert n3 == 3 * n1, t
    for t in ("nation", "region"):
        assert (
            spark.read.parquet(os.path.join(d3, f"{t}.parquet")).count()
            == load_table(spark, SF, t).count()
        ), t
    # replica 0 is byte-identical pass-through; replica keys never collide
    o3 = spark.read.parquet(os.path.join(d3, "orders.parquet"))
    assert o3.select("o_orderkey").distinct().count() == o3.count()
    # every replica's custkeys still join customer (within-replica only)
    c3 = spark.read.parquet(os.path.join(d3, "customer.parquet"))
    n_match = o3.join(c3, o3.o_custkey == c3.c_custkey, "left_semi").count()
    base_match = (
        load_table(spark, SF, "orders")
        .join(
            load_table(spark, SF, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .count()
    )
    assert n_match == 3 * base_match


def test_relational_scale_smoke_linearity_at_factor_2(spark, tmp_path):
    out = relational_scale_smoke(spark, SF, str(tmp_path), factor=2)
    # grouped-output queries: group rows constant, order counts exactly 2x
    assert out["scale_join_dims_orders_ratio"] == 2.0
    assert out["scale_grouping_analytics_orders_ratio"] == 2.0
    assert out["scale_join_dims_rows_ratio"] == 1.0
    assert out["scale_grouping_analytics_rows_ratio"] == 1.0
    # sessionization: replica-disjoint users => sessions exactly 2x
    assert out["scale_sessionization_rows_ratio"] == 2.0
    for name in ("join_dims", "sessionization", "grouping_analytics"):
        assert out[f"scale_{name}_x1_sec"] > 0
        assert out[f"scale_{name}_x2_sec"] > 0
        assert len(out[f"scale_{name}_x1_runs"]) >= 2


def test_tree_cpu_seconds_counts_own_burn():
    import bench

    a = bench._tree_cpu_seconds()
    assert a > 0
    # burn ~0.2s of CPU in-process; the tree total must move by roughly
    # that much (lower bound loose: scheduler ticks are 10ms grains)
    x = 0
    import time

    t0 = time.process_time()
    while time.process_time() - t0 < 0.25:
        x += 1
    b = bench._tree_cpu_seconds()
    assert b - a >= 0.15, (a, b)


def test_pipeline_e2e_ledger_is_deterministic(spark, tmp_path):
    """bench.run_pipeline_e2e's row ledger is the round-over-round diff
    anchor (three identical ledgers across r12's sf0.1 runs) — a stage
    that goes nondeterministic (seeded sampling replaced by rand(),
    unstable dedup winner, hash-order-dependent packing) must fail HERE,
    not as an unexplained ledger drift in the next round's artifact.

    Compared against a GOLDEN ledger, not an in-session second run
    (r17): the pinned constant catches everything a double-run did plus
    cross-session/cross-change drift, at half the wall-clock. A
    legitimate semantic change to a pipe stage must update this constant
    deliberately — that review moment is the point of the anchor."""
    import bench

    e1: dict = {}
    bench.run_pipeline_e2e(spark, "/root/testdata/sf0.01", str(tmp_path / "a"), e1)
    # golden ledger. To regenerate it after a deliberate stage change, run
    # bench.run_pipeline_e2e(spark, <the sf0.01 dir above>, out, e) once
    # in a fresh session, with e = {} and any empty scratch dir as out,
    # and paste e["pipeline_e2e_rows"] here
    assert e1["pipeline_e2e_rows"] == [500, 500, 492, 489, 489, 426, 449, 208, 400]
    ledger = e1["pipeline_e2e_rows"]
    assert len(ledger) == 9 and ledger[0] > 0
    # rows are non-increasing through the filter stages (in → dedup →
    # span → decon → pii → quality); mixture may add epoch copies
    for a, b in zip(ledger[:5], ledger[1:6]):
        assert b <= a, ledger
    assert set(e1["pipeline_e2e_stage_secs"]) == {
        "dedup", "span", "decon", "pii", "quality", "mixture", "pack_shard",
    }


def test_replica_delta_derived_from_actual_max_key(spark, tmp_path):
    """ADVICE r12: the per-replica key shift must clear the ACTUAL max
    keys, not a hard-coded 10M — at larger sf_dirs a fixed shift lets
    replica ranges silently overlap and the linearity ratios read as
    engine regressions. Build an sf-shaped dir whose keys sit ABOVE 10M
    and assert replicas stay disjoint and joins stay within-replica."""
    big = os.path.join(str(tmp_path), "big_keys")
    os.makedirs(big, exist_ok=True)
    for t in ("orders", "customer", "events", "nation", "region"):
        df = load_table(spark, SF, t)
        if t == "orders":
            df = df.withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000_000).withColumn(
                "o_custkey", F.col("o_custkey") + 25_000_000
            )
        elif t == "customer":
            df = df.withColumn("c_custkey", F.col("c_custkey") + 25_000_000)
        elif t == "events":
            df = df.withColumn("event_id", F.col("event_id") + 25_000_000).withColumn(
                "user_id", F.col("user_id") + 25_000_000
            )
        df.write.mode("overwrite").parquet(os.path.join(big, f"{t}.parquet"))

    d3 = _scaled_facts_dir(spark, big, str(tmp_path), 3)
    o3 = spark.read.parquet(os.path.join(d3, "orders.parquet"))
    e3 = spark.read.parquet(os.path.join(d3, "events.parquet"))
    assert o3.select("o_orderkey").distinct().count() == o3.count()
    assert e3.select("event_id").distinct().count() == e3.count()
    # joins still match exactly 3x the base (within-replica only)
    c3 = spark.read.parquet(os.path.join(d3, "customer.parquet"))
    base_match = (
        spark.read.parquet(os.path.join(big, "orders.parquet"))
        .join(
            spark.read.parquet(os.path.join(big, "customer.parquet")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .count()
    )
    assert (
        o3.join(c3, o3.o_custkey == c3.c_custkey, "left_semi").count()
        == 3 * base_match
    )


def test_evict_grouping_cache_unpersists_base(spark):
    """ADVICE r12: evicting the grouping-analytics session cache must
    unpersist the scan-once base it pinned — otherwise every timed
    rebuild in the smoke leaks one InMemoryRelation for the session."""
    from zombi_spark.plans.plan_cache import session_cache
    from zombi_spark.plans.relational import q_grouping_analytics
    from zombi_spark.plans.scalebench import evict_grouping_cache

    # self-contained: an earlier module may have built the memoized plan
    # and the between-modules cache release then unpinned its base —
    # evict and rebuild so the pinned-while-cached assertion sees a
    # fresh build
    evict_grouping_cache(spark, SF)
    q_grouping_analytics(spark, SF).count()
    cache = session_cache(spark, "relational")
    held = cache.get((SF, "grouping_analytics", "held"))
    assert held is not None
    base, view = held
    assert base.storageLevel.useMemory  # pinned while cached
    evict_grouping_cache(spark, SF)
    assert not base.storageLevel.useMemory  # released on evict
    assert (SF, "grouping_analytics") not in cache
    assert (SF, "grouping_analytics", "held") not in cache
    assert view not in [t.name for t in spark.catalog.listTables()]
    # the query rebuilds cleanly after eviction
    assert q_grouping_analytics(spark, SF).count() > 0
    evict_grouping_cache(spark, SF)
