"""Scale-technique tests: salting and bucketing.

These verify the two shuffle-management strategies that only matter on
a real cluster — correctness here (salted results identical; bucketed
joins exchange-free), effect at 100 TB.
"""

import pyspark.sql.functions as F
import pytest

from nlp_with_pyspark_spark.operators.relational import salted_join
from nlp_with_pyspark_spark.plans import count_occurrences, exchanges_covering, plan_string
from nlp_with_pyspark_spark.sources.io import read_table, write_bucketed


def test_salted_join_matches_unsalted(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = read_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    plain = orders.join(cust.select("custkey", "c_nationkey"), "custkey")
    salted = salted_join(orders, cust.select("custkey", "c_nationkey"), "custkey", n_salts=4)
    a = sorted(map(tuple, plain.select("o_orderkey", "c_nationkey").collect()))
    b = sorted(map(tuple, salted.select("o_orderkey", "c_nationkey").collect()))
    assert a == b and len(a) > 0


def test_salted_join_spreads_keys(spark, sf_dir):
    """Every populated join key must fan out across >1 salt partition
    key when it has enough rows (the point of salting)."""
    orders = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in orders.columns]), F.lit(4))
    spread = (
        orders.withColumn("__salt", salt)
        .groupBy("custkey")
        .agg(F.countDistinct("__salt").alias("n_salts"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 8)
    )
    rows = spread.collect()
    assert rows, "need at least one key with >=8 rows for this probe"
    assert all(r.n_salts > 1 for r in rows)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """lineitem ⋈ orders on the bucket key: both sides bucketed 8-way →
    the sort-merge join must read bucket-aligned with ZERO Exchange."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    write_bucketed(
        lineitem, "t_li_bucketed", "l_orderkey", 8, path=str(tmp_path / "li")
    )
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "t_ord_bucketed",
        "l_orderkey",
        8,
        path=str(tmp_path / "ord"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_li_bucketed").join(spark.table("t_ord_bucketed"), "l_orderkey")
        plan = plan_string(j)
        assert "SortMergeJoin" in plan
        assert count_occurrences(j, "Exchange") == 0, plan
        # per-source form of the same claim: no shuffle Exchange covers
        # either bucketed scan's subtree
        assert exchanges_covering(j, "t_li_bucketed") == 0
        assert exchanges_covering(j, "t_ord_bucketed") == 0
        # and it actually runs
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_bucketed_range_join_exactly_once(spark):
    """Every (interval, point) pair with start <= ts <= end appears
    EXACTLY once — including intervals spanning many buckets and points
    on bucket/interval boundaries — matching the naive all-pairs join."""
    from nlp_with_pyspark_spark.operators.windows import bucketed_range_join

    intervals = spark.createDataFrame(
        [
            (1, 0, 50),        # inside one bucket
            (2, 90, 210),      # spans 3 buckets (width 100)
            (3, 100, 100),     # degenerate, on a boundary
            (4, 500, 9999),    # long interval, many buckets
            (5, 150, 160),     # nested inside interval 2's range
        ],
        "iv_id long, start_sec long, end_sec long",
    )
    points = spark.createDataFrame(
        [(i, s) for i, s in enumerate([0, 50, 99, 100, 101, 155, 210, 211, 500, 5000, 9999, 10000])],
        "pt_id long, sec long",
    )
    got = sorted(
        (r.iv_id, r.pt_id)
        for r in bucketed_range_join(points, intervals, bucket_sec=100).collect()
    )
    naive = sorted(
        (r.iv_id, r.pt_id)
        for r in intervals.crossJoin(points)
        .where((F.col("sec") >= F.col("start_sec")) & (F.col("sec") <= F.col("end_sec")))
        .collect()
    )
    assert got == naive and len(got) == len(set(got))


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-layout events (partitioned by event_type): a filter on the
    partition column must appear as PartitionFilters in the FileScan
    (directories pruned before file listing) and read only the matching
    partition's rows; a same-shape filter on an unpartitioned copy is
    only a PushedFilter (every file still listed/opened)."""
    from nlp_with_pyspark_spark.sources.io import write_partitioned

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out = str(tmp_path / "events_by_type")
    write_partitioned(events, out, ["event_type"])

    part = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in seg, seg
    want = events.where(F.col("event_type") == "click").count()
    assert part.count() == want and want > 0

    flat = events.where(F.col("event_type") == "click")
    flat_plan = flat._jdf.queryExecution().executedPlan().toString()
    flat_seg = flat_plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" not in flat_seg, flat_seg


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_bucketed_range_join_randomized(spark):
    """Randomized cross-check (seeded): 300 random intervals × 500
    random points, three bucket widths (smaller, comparable, larger than
    typical interval length) — each must equal the naive all-pairs join
    exactly. Guards the exactly-once argument against width-dependent
    edge cases the handpicked examples miss."""
    import random

    from nlp_with_pyspark_spark.operators.windows import bucketed_range_join

    rng = random.Random(20260813)
    intervals = []
    for i in range(300):
        s = rng.randrange(0, 100_000)
        intervals.append((i, s, s + rng.randrange(0, 5_000)))
    points = [(i, rng.randrange(0, 110_000)) for i in range(500)]
    iv = spark.createDataFrame(intervals, "iv_id long, start_sec long, end_sec long")
    pt = spark.createDataFrame(points, "pt_id long, sec long")
    naive = sorted(
        (r.iv_id, r.pt_id)
        for r in iv.crossJoin(pt)
        .where((F.col("sec") >= F.col("start_sec")) & (F.col("sec") <= F.col("end_sec")))
        .collect()
    )
    assert naive  # non-degenerate fixture
    for width in (100, 1_000, 60_000):
        got = sorted(
            (r.iv_id, r.pt_id)
            for r in bucketed_range_join(pt, iv, bucket_sec=width).collect()
        )
        assert got == naive, f"width={width}: {len(got)} vs {len(naive)}"


def test_bucket_spec_sidecar_guards_restart(spark, sf_dir, tmp_path):
    """The _BUCKET_SPEC sidecar is the restart contract: re-registering
    a bucketed external table (1) refuses a DIFFERENT spec than the
    files were written under — the silent-corruption path where Spark
    would trust a wrong declared HashPartitioning; (2) uses the stored
    spec+schema, so even a table whose data dirs hold ZERO parquet files
    (e.g. an index table before any doc produced keys) re-registers."""
    import pyspark.sql.functions as F
    import pytest

    from nlp_with_pyspark_spark.sources.io import (
        register_bucketed_table,
        table_bucket_spec,
        write_bucketed,
    )

    path = str(tmp_path / "spec_guard")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_bucketed(df, "t_specguard", "k", 8, path=path)
    spark.sql("DROP TABLE t_specguard")  # simulate session restart

    with pytest.raises(ValueError, match="bucket spec mismatch"):
        register_bucketed_table(spark, "t_specguard", "k", 32, path)
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        register_bucketed_table(spark, "t_specguard", "v", 8, path)

    assert register_bucketed_table(spark, "t_specguard", "k", 8, path)
    col, n, _ = table_bucket_spec(spark, "t_specguard")
    assert (col, n) == ("k", 8)
    assert spark.table("t_specguard").count() == 100
    spark.sql("DROP TABLE t_specguard")

    # empty table: write zero rows, drop the catalog entry, re-register
    empty_path = str(tmp_path / "spec_empty")
    write_bucketed(df.limit(0), "t_specempty", "k", 8, path=empty_path)
    spark.sql("DROP TABLE t_specempty")
    assert register_bucketed_table(spark, "t_specempty", "k", 8, empty_path)
    assert spark.table("t_specempty").count() == 0
    spark.sql("DROP TABLE t_specempty")


def test_bucketed_maintenance_rejects_remote_paths(spark):
    """The store-maintenance helpers act on the local filesystem; a
    remote scheme must fail loudly instead of reading as an empty store
    (which the sinks would treat as 'first batch' and overwrite)."""
    import pytest

    from nlp_with_pyspark_spark.sources.io import register_bucketed_table

    with pytest.raises(NotImplementedError, match="local-filesystem-only"):
        register_bucketed_table(spark, "t_remote", "k", 8, "s3a://bucket/store")


def test_replica_stamp_rejects_another_source_corpus(tmp_path):
    """``build_replicated_dir`` stamps the absolute source dir: a replica
    built from a different corpus whose dir has the same basename is a
    hard error, and a matching stamp reuses the replica (no Spark)."""
    from scale_probe import build_replicated_dir

    a, b = tmp_path / "a" / "sf0.1", tmp_path / "b" / "sf0.1"
    for base in (a, b):
        base.mkdir(parents=True)
        (base / "orders.parquet").mkdir()
    out = tmp_path / "rep"
    out.mkdir()
    (out / "documents.parquet").mkdir()
    (out / "_FACTOR").write_text(f"10:documents:{a}")
    build_replicated_dir(None, str(a), str(out), 10)  # reused as is
    assert (out / "orders.parquet").is_symlink()
    with pytest.raises(SystemExit, match="source"):
        build_replicated_dir(None, str(b), str(out), 10)
