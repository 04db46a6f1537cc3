"""Structured Streaming tests: stream-vs-batch agreement.

Strategy (SURVEY §2.12): the batch windowing operators are the
oracle-checked semantics; here we replay the static events parquet
through a file stream and assert the streaming plans converge to the
same answers once all data is processed (availableNow drain).
"""

import pyspark.sql.functions as F
import pytest

# slow: ~10 min of stream-replay / store-lifecycle e2e. The default
# (driver-window) run keeps the same semantics covered via the
# oracle-parity tests — every maintained-store query runs its full
# ingest→takedown→vacuum→serve lifecycle against DuckDB there.
pytestmark = pytest.mark.slow

from nlp_with_pyspark_spark.operators.windows import (
    session_stats,
    sessionize,
    tumbling_counts,
)
from nlp_with_pyspark_spark.operators.store import NEARDUP_INDEX
from nlp_with_pyspark_spark.sources.io import read_table
from nlp_with_pyspark_spark.streaming.stateful import user_running_stats
from nlp_with_pyspark_spark.streaming.windows import (
    events_stream_from_dir,
    run_to_memory,
    sessionized_stream,
    sliding_stream,
    streaming_dedup,
    tumbling_stream,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return read_table(spark, sf_dir, "events").cache()


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # the file-stream source wants a directory; testdata ships a single
    # parquet file, so stage it behind a symlink
    d = tmp_path_factory.mktemp("events_stream_src")
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    # all files in one trigger: availableNow still runs the full
    # streaming machinery (state store, watermark advance, commit log)
    return events_stream_from_dir(spark, str(d), max_files_per_trigger=16)


def _rows(spark, name):
    return {tuple(r) for r in spark.table(name).collect()}


def test_tumbling_stream_matches_batch(spark, events_batch, events_stream):
    q = run_to_memory(tumbling_stream(events_stream, width_sec=300), "t_tumbling")
    try:
        got = _rows(spark, "t_tumbling")
        want = {
            tuple(r)
            for r in tumbling_counts(events_batch, width_sec=300)
            .select("bucket_start_epoch", "event_type", "n_events", "sum_value")
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_sliding_stream_matches_batch(spark, events_batch, events_stream):
    from nlp_with_pyspark_spark.operators.windows import sliding_counts

    q = run_to_memory(sliding_stream(events_stream, width_sec=600, slide_sec=300), "t_sliding")
    try:
        got = _rows(spark, "t_sliding")
        want = {
            tuple(r)
            for r in sliding_counts(events_batch, width_sec=600, slide_sec=300)
            .select("window_start_epoch", "event_type", "n_events", "sum_value")
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_lemmatize_udf_fallback(spark, sf_dir):
    """F4/F6 pandas_udf plumbing: deterministic ASCII-fold fallback when
    nltk is absent (this container), schema array<string>."""
    from nlp_with_pyspark_spark.functions.text import lemmatize_udf, tokens_pipeline
    from nlp_with_pyspark_spark.sources.io import read_table

    docs = (
        read_table(spark, sf_dir, "documents")
        .limit(50)
        .withColumn("tokens", tokens_pipeline(F.col("text")))
        .withColumn("lemmas", lemmatize_udf()(F.col("tokens")))
    )
    rows = docs.select("tokens", "lemmas").collect()
    assert rows and all(len(r.lemmas) == len(r.tokens) for r in rows)
    assert all(all(c.isascii() for w in r.lemmas for c in w) for r in rows)


def test_lemmatize_fallback_golden(spark):
    """Golden pin of the ASCII-fold fallback (functions/text.py): exact
    output on a fixed token list. The real NLTK WordNet path is
    environment-gated — nltk is permanently absent from this container,
    so the fallback IS the shipped behavior and its output is pinned
    here; if nltk ever appears, the udf switches paths and this pin is
    skipped (the smoke test above still covers shape)."""
    try:
        import nltk  # noqa: F401

        pytest.skip("nltk present: udf takes the WordNet path, fallback inactive")
    except ImportError:
        pass
    from nlp_with_pyspark_spark.functions.text import lemmatize_udf

    tokens = ["cats", "running", "café", "naïve", "žluťoučký", "日本語", "x²+y²", "plain"]
    df = spark.createDataFrame([(tokens,)], "tokens array<string>")
    got = df.select(lemmatize_udf()(F.col("tokens")).alias("lemmas")).first().lemmas
    # ascii-fold = encode('ascii','ignore'): diacritics dropped entirely
    # (not transliterated), pure-non-ascii words collapse to ""
    assert got == ["cats", "running", "caf", "nave", "luouk", "", "x+y", "plain"]


def test_session_stream_matches_batch(spark, events_batch, events_stream):
    q = run_to_memory(sessionized_stream(events_stream, gap_sec=1800), "t_sessions")
    try:
        got = _rows(spark, "t_sessions")
        want = {
            tuple(r)
            for r in sessionize(events_batch, gap_sec=1800)
            .select("user_id", "n_events", "session_start_epoch", "session_end_epoch")
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_streaming_dedup_drops_dupes(spark, events_stream, events_batch):
    q = run_to_memory(
        streaming_dedup(events_stream).select("event_id"), "t_dedup", output_mode="append"
    )
    try:
        n_stream = spark.table("t_dedup").count()
        n_distinct = events_batch.select("event_id").distinct().count()
        assert n_stream == n_distinct
    finally:
        q.stop()


def test_parquet_sink_checkpointed(spark, events_batch, sf_dir, tmp_path):
    """File-sink path: watermarked tumbling agg → checkpointed parquet in
    append mode. Finalized windows (everything before max_ts - watermark)
    must match the batch answer for those buckets; a restart with the
    same checkpoint must add NO duplicate rows (exactly-once)."""
    from nlp_with_pyspark_spark.streaming.windows import stream_to_parquet

    d = tmp_path / "src"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        s = events_stream_from_dir(spark, str(d), max_files_per_trigger=16)
        q = stream_to_parquet(
            tumbling_stream(s, width_sec=300, watermark="10 minutes"), out, ckpt
        )
        q.stop()

    run()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    batch = tumbling_counts(events_batch, width_sec=300).select(
        "bucket_start_epoch", "event_type", "n_events", "sum_value"
    )
    # append mode emits only windows finalized by the watermark
    max_sec = events_batch.agg(F.max(F.expr("ts_ns div 1000000000"))).first()[0]
    finalized = {
        tuple(r)
        for r in batch.where(F.col("bucket_start_epoch") + 300 <= max_sec - 600).collect()
    }
    assert finalized <= got, "sink is missing finalized windows"
    n_first = len(got)

    run()  # resume from the same checkpoint: no new input ⇒ no new rows
    assert spark.read.parquet(out).count() == n_first


def test_stateful_running_stats_converges(spark, events_stream, events_batch):
    """applyInPandasWithState: after draining the whole table, the last
    update per user must equal the batch groupBy fold."""
    q = run_to_memory(user_running_stats(events_stream), "t_state", output_mode="update")
    try:
        # update mode emits one row per user per micro-batch; with a
        # single availableNow drain the final (and only) row is the total
        got = {
            (r.user_id, r.n_events, round(r.sum_value, 6), r.max_value)
            for r in spark.table("t_state")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("sum_value").alias("sum_value"),
                F.max("max_value").alias("max_value"),
            )
            .collect()
        }
        want = {
            (r.user_id, r.n_events, round(r.sum_value, 6), r.max_value)
            for r in events_batch.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
                F.max("value").alias("max_value"),
            )
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stateful_idle_keys_evicted(spark, tmp_path):
    """EventTimeTimeout eviction: a key idle past idle_ttl (in event
    time, measured by the watermark) is DROPPED from the state store —
    when it reappears, its fold restarts from zero instead of resuming.

    Four files drained one-per-trigger so the watermark advances
    between micro-batches:
      b1: user1@t0, user2@t0          → both open state
      b2: user2@t0+3h                 → watermark → t0+3h-10s; user2
                                        accumulates (its state survived
                                        — eviction is watermark-driven,
                                        not wall-clock)
      b3: user3@t0+4h (no user1 data) → user1's timeout (t0+1h) fires:
                                        state removed, nothing emitted
      b4: user1@t0+5h                 → fresh state: n=1, not n=2
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_600_000_000
    hour = 3600

    def write_file(i, rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        path = str(tmp_path / f"b{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (t0 + i, t0 + i))  # file order = batch order

    write_file(1, [(1, t0, 1, 10.0), (2, t0, 2, 5.0)])
    write_file(2, [(3, t0 + 3 * hour, 2, 7.0)])
    write_file(3, [(4, t0 + 4 * hour, 3, 2.0)])
    write_file(4, [(5, t0 + 5 * hour, 1, 1.0)])

    stream = events_stream_from_dir(spark, str(tmp_path), max_files_per_trigger=1)
    q = run_to_memory(
        user_running_stats(stream, watermark="10 seconds", idle_ttl_sec=hour),
        "t_evict",
        output_mode="update",
    )
    try:
        rows = {
            (r.user_id, r.n_events, r.sum_value, r.max_value)
            for r in spark.table("t_evict").collect()
        }
        # user1 was evicted between its appearances: the reappearance
        # restarts at n=1/sum=1 — a surviving state would show n=2/sum=11
        assert (1, 1, 10.0, 10.0) in rows
        assert (1, 1, 1.0, 1.0) in rows
        assert not any(u == 1 and n == 2 for (u, n, _, _) in rows)
        # user2's 3h gap did NOT evict it mid-stream (watermark hadn't
        # passed its ttl when its second event arrived): it accumulates
        assert (2, 2, 12.0, 7.0) in rows
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, events_stream, events_batch):
    """Stream-static broadcast join: a streaming fact enriched with a
    static dimension (the production shape for slowly-changing lookup
    tables — no state store involved, the dim is just re-broadcast per
    micro-batch). Converged result must equal the batch join."""
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    enriched = (
        events_stream.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    q = run_to_memory(enriched, "t_enrich", output_mode="complete")
    try:
        got = {tuple(r) for r in spark.table("t_enrich").collect()}
        want = {
            tuple(r)
            for r in events_batch.join(F.broadcast(dim), "event_type")
            .groupBy("category")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .collect()
        }
        assert got == want and got
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, events_stream, events_batch):
    """Stream-stream interval join (streaming/joins.py): both sides
    watermarked, gap bounded both ways → bounded state. The same code
    path run on the static table is the semantic oracle."""
    from nlp_with_pyspark_spark.streaming.joins import click_purchase_attribution

    q = run_to_memory(
        click_purchase_attribution(events_stream), "t_ssjoin", output_mode="append"
    )
    try:
        got = _rows(spark, "t_ssjoin")
        want = {tuple(r) for r in click_purchase_attribution(events_batch).collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_dedup_within_watermark_catches_restamped_dupes(spark, tmp_path):
    """At-least-once delivery where the retry carries a NEW timestamp:
    plain dropDuplicates([id, ts]) would pass both copies through;
    dropDuplicatesWithinWatermark([id]) must emit exactly one."""
    import pyspark.sql.types as T

    from nlp_with_pyspark_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    # legacy long-nanos layout: also exercises the normalize_events
    # bigint branch through the stream source
    nanos_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    base_ns = 1_700_000_000_000_000_000
    rows = [
        # (event_id, ts_nanos, user, type, value, props) — id 1 sent twice,
        # the retry re-stamped 90s later (inside the 30min watermark delay)
        (1, base_ns, 10, "click", 1.0, "{}"),
        (1, base_ns + 90_000_000_000, 10, "click", 1.0, "{}"),
        (2, base_ns + 5_000_000_000, 11, "view", 2.0, "{}"),
    ]
    src = tmp_path / "restamped_src"
    src.mkdir()
    spark.createDataFrame(rows, nanos_schema).coalesce(1).write.parquet(
        str(src / "batch")
    )
    stream = events_stream_from_dir(spark, str(src / "batch"), max_files_per_trigger=16)
    q = run_to_memory(
        streaming_dedup_within_watermark(stream).select("event_id"),
        "t_dedup_wm",
        output_mode="append",
    )
    try:
        got = sorted(r.event_id for r in spark.table("t_dedup_wm").collect())
        assert got == [1, 2]
    finally:
        q.stop()


def _write_events_file(spark, d, rows):
    """One parquet file of (event_id, ts_micros_epoch, user_id, type,
    value) — written through Spark so ts is a true timestamp column."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(d))


def _stored(spark, table, col):
    """Sorted values of ``col`` in the store table ``table``, refreshed
    first (the sinks write through a cloned session)."""
    spark.catalog.refreshTable(table)
    return sorted(r[0] for r in spark.table(table).select(col).collect())


def _drop_tables(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _tbl(spark, table):
    """The store table ``table``, refreshed first."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


def test_incremental_dedup_sink_across_batches(spark, tmp_path):
    """foreachBatch dedup-on-ingest: a key arriving again in a LATER
    micro-batch (beyond any dropDuplicates state window) must not reach
    the store twice; replaying the drained stream appends nothing."""
    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(
        spark,
        src / "f1",
        [(1, base, 10, "click", 1.0, "{}"), (2, base + 1_000_000, 11, "view", 2.0, "{}")],
    )
    _write_events_file(
        spark,
        src / "f2",
        [(2, base + 1_000_000, 11, "view", 2.0, "{}"), (3, base + 2_000_000, 12, "click", 3.0, "{}")],
    )
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    tbl = "t_exact_across"
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(stream, dedup_store_upsert_batch, ckpt, store_path=store, table=tbl, n_buckets=4)
        assert _stored(spark, tbl, "event_id") == [1, 2, 3]
        # resume from the same checkpoint: no new input, store unchanged
        stream2 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream2, dedup_store_upsert_batch, ckpt, store_path=store, table=tbl, n_buckets=4
        )
        assert _stored(spark, tbl, "event_id") == [1, 2, 3]
    finally:
        _drop_tables(spark, tbl)


def test_interval_join_outer_batch_semantics(spark):
    """Batch path of the left-outer interval join: converted clicks get
    their purchases, unconverted clicks survive with NULLs."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.streaming.joins import interval_join_streams_outer

    base = 1_700_000_000_000_000
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long"
    ).select("event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"), "user_id")
    clicks = mk([(1, base, 10), (2, base, 20), (3, base + 600_000_000, 10)])
    purchases = mk([(100, base + 60_000_000, 10), (101, base + 700_000_000, 10)])
    got = {
        (r.left_id, r.right_id, r.gap_sec)
        for r in interval_join_streams_outer(clicks, purchases, max_gap_sec=300).collect()
    }
    assert got == {(1, 100, 60), (2, None, None), (3, 101, 100)}


def test_interval_join_outer_stream_matches_batch(spark, tmp_path):
    """Streaming left-outer interval join: unmatched rows flush once the
    watermark passes their match window. Sentinel files (far-future
    events under an excluded user) drive the watermark forward across
    extra micro-batches so every real row's window closes."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.streaming.joins import interval_join_streams_outer
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
    )

    base = 1_700_000_000_000_000
    hour = 3_600_000_000
    src = tmp_path / "oj_src"
    src.mkdir()
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base, 20, "click", 1.0, "{}"),          # never converts
        (100, base + 60_000_000, 10, "purchase", 5.0, "{}"),
        (3, base + 600_000_000, 10, "click", 1.0, "{}"),
        (101, base + 700_000_000, 10, "purchase", 7.0, "{}"),
    ]
    _write_events_file(spark, src / "f1", rows)
    # two sentinel batches: the first advances the watermark past every
    # real row's match window, the second gives the join a batch in
    # which to emit the flushed NULL rows
    _write_events_file(spark, src / "f2", [(900, base + 24 * hour, -1, "click", 0.0, "{}")])
    _write_events_file(spark, src / "f3", [(901, base + 25 * hour, -1, "click", 0.0, "{}")])

    stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    joined = interval_join_streams_outer(
        clicks, purchases, max_gap_sec=300, watermark="1 minute"
    )
    q = run_to_memory(joined, "t_oj", output_mode="append")
    try:
        got = {
            (r.left_id, r.right_id, r.gap_sec)
            for r in spark.table("t_oj").collect()
            if r.user_id != -1
        }
    finally:
        q.stop()

    batch = events_stream_from_dir  # reuse reader in batch mode via read_table-equivalent
    b = spark.read.parquet(str(src / "f*"))
    from nlp_with_pyspark_spark.sources.io import normalize_events

    b = normalize_events(b)
    want = {
        (r.left_id, r.right_id, r.gap_sec)
        for r in interval_join_streams_outer(
            b.where(F.col("event_type") == "click"),
            b.where(F.col("event_type") == "purchase"),
            max_gap_sec=300,
            watermark="1 minute",
        ).collect()
        if r.user_id != -1
    }
    assert got == want and (2, None, None) in want


def test_late_event_dropped_by_watermark(spark, tmp_path):
    """Event-time correctness under late data: an event arriving in a
    later micro-batch with a timestamp already behind the watermark must
    NOT be counted into its (finalized) window. This is the semantics
    that makes streaming state bounded — late rows are dropped, not
    buffered forever."""
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
        tumbling_stream,
    )

    base = 1_700_000_000_000_000  # epoch micros
    hour = 3_600_000_000
    src = tmp_path / "late_src"
    src.mkdir()
    # batch 1: two events in window W0, plus one far ahead that drags the
    # watermark (10 min delay) way past W0
    _write_events_file(
        spark,
        src / "f1",
        [
            (1, base, 10, "click", 1.0, "{}"),
            (2, base + 1_000_000, 10, "click", 1.0, "{}"),
            (3, base + 2 * hour, 11, "click", 1.0, "{}"),
        ],
    )
    # batch 2: absorbs the one-trigger watermark propagation lag (the
    # watermark computed from batch 1 takes effect from the NEXT batch)
    _write_events_file(spark, src / "f2", [(6, base + 2 * hour + 1_000_000, 11, "view", 1.0, "{}")])
    # batch 3: a LATE event for W0 — the in-effect watermark is now
    # (base+2h) - 10min, far past W0's end, so this row must be dropped
    _write_events_file(spark, src / "f3", [(4, base + 2_000_000, 12, "click", 1.0, "{}")])
    # batch 4: advance the watermark further so W0's finalized emission
    # reaches the sink
    _write_events_file(spark, src / "f4", [(5, base + 3 * hour, 11, "click", 1.0, "{}")])

    stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
    q = run_to_memory(
        tumbling_stream(stream, width_sec=300, watermark="10 minutes"),
        "t_late",
        output_mode="append",
    )
    try:
        w0 = (base // 1_000_000 // 300) * 300  # aligned window start
        rows = {r.bucket_start_epoch: r.n_events for r in spark.table("t_late").collect()}
        # the late event (id 4) must not be in W0's count
        assert rows.get(w0) == 2, rows
    finally:
        q.stop()


def test_stream_source_cold_start_on_empty_dir(spark, tmp_path):
    """Consumer-first pattern: the stream must start (and later pick up
    files) when the source directory is empty at start — schema
    inference falls back to the canonical micros layout."""
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
        tumbling_stream,
    )

    src = tmp_path / "cold_src"
    src.mkdir()
    stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=4)
    q = run_to_memory(
        tumbling_stream(stream, width_sec=300), "t_cold", output_mode="append"
    )
    try:
        assert spark.table("t_cold").count() == 0
    finally:
        q.stop()


def test_incremental_dedup_sink_fails_on_store_schema_mismatch(spark, tmp_path):
    """The review-hardened error path: an EXISTING store that cannot
    resolve the key columns must fail the batch loudly — treating it as
    'first batch' would skip the anti-join and append duplicates
    silently."""
    import pyspark.sql.functions as F
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from nlp_with_pyspark_spark.sources.io import write_bucketed
    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "mm_src"
    src.mkdir()
    _write_events_file(spark, src / "f1", [(1, base, 10, "click", 1.0, "{}")])
    store = str(tmp_path / "mm_store")
    tbl = "t_exact_mismatch"
    try:
        # pre-existing store WITHOUT the key column
        write_bucketed(
            spark.createDataFrame([(99,)], "other_id long"), tbl, "other_id", 4, path=store
        )
        stream = events_stream_from_dir(spark, str(src / "f*"))
        with pytest.raises(StreamingQueryException):
            sink(
                stream, dedup_store_upsert_batch, str(tmp_path / "mm_ckpt"),
                store_path=store, table=tbl, n_buckets=4
            )
        assert _stored(spark, tbl, "other_id") == [99]
    finally:
        _drop_tables(spark, tbl)


def test_incremental_dedup_sink_replay_after_crash(spark, tmp_path):
    """The at-least-once window foreachBatch actually has: a crash AFTER
    the store append but BEFORE the checkpoint commit re-runs that batch
    on restart. Simulate it by deleting the latest checkpoint commit
    marker and rerunning — the replayed batch must find its keys in the
    store and append nothing. Then the total-loss case: a FRESH
    checkpoint replays the whole stream against the populated store."""
    import os

    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(
        spark,
        src / "f1",
        [(1, base, 10, "click", 1.0, "{}"), (2, base + 1_000_000, 11, "view", 2.0, "{}")],
    )
    _write_events_file(
        spark,
        src / "f2",
        [(3, base + 2_000_000, 12, "click", 3.0, "{}")],
    )
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    tbl = "t_exact_replay"
    kw = dict(table=tbl, n_buckets=4)
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(stream, dedup_store_upsert_batch, ckpt, store_path=store, **kw)
        assert _stored(spark, tbl, "event_id") == [1, 2, 3]

        # crash window: last batch appended to the store, commit marker lost
        commits = sorted(
            f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
        )
        os.remove(os.path.join(ckpt, "commits", commits[-1]))
        crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        stream2 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(stream2, dedup_store_upsert_batch, ckpt, store_path=store, **kw)
        ids = _stored(spark, tbl, "event_id")
        assert ids == [1, 2, 3], f"replayed batch duplicated keys: {ids}"

        # total checkpoint loss: the WHOLE stream replays against the store
        stream3 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream3, dedup_store_upsert_batch, str(tmp_path / "ckpt_fresh"),
            store_path=store, **kw,
        )
        ids = _stored(spark, tbl, "event_id")
        assert ids == [1, 2, 3], f"full replay duplicated keys: {ids}"
    finally:
        _drop_tables(spark, tbl)


def test_enrich_stream_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: the streamed result equals
    the batch join, including events whose key has no dimension row."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.streaming.joins import enrich_stream
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
    )

    base = 1_700_000_000_000_000
    src = tmp_path / "enrich_src"
    src.mkdir()
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base + 1_000_000, 20, "view", 2.0, "{}"),
        (3, base + 2_000_000, 99, "click", 3.0, "{}"),  # no dim row
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))

    dim = spark.createDataFrame(
        [(10, "gold"), (20, "trial"), (30, "unused")], "user_id long, segment string"
    )
    pick = lambda df: df.select("event_id", "user_id", "segment")

    expected = {tuple(r) for r in pick(enrich_stream(batch, dim)).collect()}
    stream = events_stream_from_dir(spark, str(src))
    run_to_memory(pick(enrich_stream(stream, dim)), "enrich_t", output_mode="append")
    got = {tuple(r) for r in spark.sql("SELECT * FROM enrich_t").collect()}
    assert got == expected
    assert (3, 99, None) in got


def test_neardup_sink_invariants_and_replay(spark, sf_dir, tmp_path, request):
    """Streaming minhash dedup-on-ingest (streaming/sinks.py
    ``sink`` over neardup_upsert_batch): (1) the store invariant — no near-dup pair
    among stored docs; (2) every dropped doc had batch-global cause;
    (3) the index tables track the stored docs exactly; (4) replaying
    the drained stream appends nothing."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.functions.text import tokens_pipeline
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs
    from nlp_with_pyspark_spark.sources.io import read_table
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch, sink

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # three arrival batches in doc_id order, one parquet file each
    src = tmp_path / "src"
    src.mkdir()
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    batches = [
        docs.where(F.col("doc_id") < cuts[0]),
        docs.where((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        docs.where(F.col("doc_id") >= cuts[1]),
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(str(src / f"b{i}"))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_ndstream"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("docs", "buckets", "shingles")))
    )

    def run_sink():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
            .withColumn("tokens", tokens_pipeline(F.col("text")))
        )
        sink(
            stream, neardup_upsert_batch, ckpt,
            store_path=store, threshold=0.2, table_prefix=prefix, n_buckets=4
        )

    run_sink()
    stored = _tbl(spark, f"{prefix}_docs").localCheckpoint()
    stored_ids = {r.doc_id for r in stored.select("doc_id").collect()}
    assert stored_ids, "empty store"

    # (1) invariant: no near-dup pair among survivors
    assert minhash_dedup_pairs(stored, threshold=0.2).count() == 0

    # (2) every dropped doc appears in the batch-global pair list
    toks = docs.withColumn("tokens", tokens_pipeline(F.col("text")))
    batch_pairs = minhash_dedup_pairs(toks, threshold=0.2).collect()
    assert batch_pairs, "corpus has no near-dup structure; test is vacuous"
    paired = {r.doc_a for r in batch_pairs} | {r.doc_b for r in batch_pairs}
    dropped = set(ids) - stored_ids
    assert dropped, "sink dropped nothing; test is vacuous"
    assert dropped <= paired

    # (3) index rows track the stored docs exactly
    for part in ("buckets", "shingles"):
        assert set(_stored(spark, f"{prefix}_{part}", "doc_id")) == stored_ids, part

    # (4) replay from the same checkpoint: no new input, store unchanged
    run_sink()
    assert set(_stored(spark, f"{prefix}_docs", "doc_id")) == stored_ids


def test_neardup_sink_single_batch_equals_canonical(spark, sf_dir, tmp_path, request):
    """With the whole corpus in ONE batch, dedup-on-ingest coincides
    exactly with the batch pipeline (pairs → components → keep-first
    canonical corpus)."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.functions.text import tokens_pipeline
    from nlp_with_pyspark_spark.operators.dedup import (
        canonical_corpus,
        minhash_dedup_pairs,
    )
    from nlp_with_pyspark_spark.sources.io import read_table
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn("tokens", tokens_pipeline(F.col("text")))
    store = str(tmp_path / "store1")
    prefix = "t_ndcanon"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("docs", "buckets", "shingles")))
    )
    neardup_upsert_batch(toks, store, threshold=0.2, table_prefix=prefix, n_buckets=4)
    got = set(_stored(spark, f"{prefix}_docs", "doc_id"))
    pairs = minhash_dedup_pairs(toks, threshold=0.2)
    expected = {r.doc_id for r in canonical_corpus(docs, pairs).select("doc_id").collect()}
    assert got == expected


def _neardup_toks(spark, sf_dir):
    from nlp_with_pyspark_spark.functions.text import tokens_pipeline

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.withColumn("tokens", tokens_pipeline(F.col("text")))


def _id_cuts(toks, parts=2):
    ids = sorted(r.doc_id for r in toks.select("doc_id").collect())
    return [ids[(i + 1) * len(ids) // parts] for i in range(parts - 1)]


def _ingest_reference(batches, pairs):
    """Driver-side reference of neardup_upsert_batch's ingest rule over
    ``batches`` (lists of ids, in arrival order) and the corpus's
    near-dup ``pairs``: a batch's doc is dropped iff its connected
    component — over the pairs among the batch and between the batch
    and the earlier survivors — holds an earlier survivor or a
    smaller-id batch mate. Returns the survivor ids."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    kept = set()
    for ids in batches:
        delta, seen = set(ids) - kept, set()
        for start in sorted(delta):
            if start in seen:
                continue
            comp, stack = {start}, [start]
            while stack:
                x = stack.pop()
                for y in adj.get(x, ()):
                    if y not in comp and (y in delta or (x in delta and y in kept)):
                        comp.add(y)
                        stack.append(y)
            seen |= comp & delta
            if not comp & kept:
                kept.add(start)  # the component's smallest batch id
    return kept


def _minhash_reference(toks, batches, threshold=0.2):
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs

    pairs = [(r.doc_a, r.doc_b) for r in minhash_dedup_pairs(toks, threshold=threshold).collect()]
    return _ingest_reference(
        [[r.doc_id for r in b.select("doc_id").collect()] for b in batches], pairs
    )


def test_neardup_upsert_simhash_family_single_batch(spark, sf_dir, tmp_path, request):
    """hash_family='simhash': single-batch ingest coincides with the
    batch pipeline (simhash pairs → components → keep-first canonical),
    and the store invariant holds under the SAME blocking config."""
    from nlp_with_pyspark_spark.operators.dedup import (
        canonical_corpus,
        simhash_near_pairs,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir)
    store = str(tmp_path / "sim_store")
    prefix = "t_ndsim1"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("docs", "keys", "fingerprints")))
    )
    neardup_upsert_batch(
        toks, store, hash_family="simhash", max_hamming=3, table_prefix=prefix, n_buckets=4
    )
    got = set(_stored(spark, f"{prefix}_docs", "doc_id"))
    pairs = simhash_near_pairs(toks, max_hamming=3)
    assert pairs.count() > 0, "no simhash structure; test is vacuous"
    expected = {
        r.doc_id
        for r in canonical_corpus(toks.select("doc_id", "text"), pairs)
        .select("doc_id")
        .collect()
    }
    assert got == expected
    # invariant: re-checking the stored docs finds nothing
    stored = _tbl(spark, f"{prefix}_docs")
    assert simhash_near_pairs(stored, max_hamming=3).count() == 0
    # index layout: simhash family stores keys/ + fingerprints/
    assert spark.table(f"{prefix}_keys").columns == ["doc_id", "band_id", "band_hash"]
    assert spark.table(f"{prefix}_fingerprints").columns == ["doc_id", "simhash"]


def test_neardup_upsert_bucketed_store_matches_reference_and_plan(spark, sf_dir, tmp_path):
    """(1) the survivors equal the driver-side reference of the ingest
    rule over the same arrival order; (2) replayed batch appends nothing;
    (3) the replay-guard anti-join reads the docs table with ZERO
    store-side shuffle Exchange (the whole point of the bucketed
    layout); (4) the delta check against the bucketed index tables is
    likewise index-side Exchange-free."""
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs
    from nlp_with_pyspark_spark.plans import exchanges_covering, plan_string
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    batches = [toks.where(F.col("doc_id") < cut), toks.where(F.col("doc_id") >= cut)]
    prefix = "t_ndsink"
    try:
        buck = str(tmp_path / "buck")
        for b in batches:
            neardup_upsert_batch(
                b, buck, threshold=0.2, table_prefix=prefix, n_buckets=8
            )
        buck_ids = {r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").collect()}
        assert buck_ids == _minhash_reference(toks, batches) and buck_ids
        # store invariant on the bucketed store
        assert minhash_dedup_pairs(spark.table(f"{prefix}_docs"), threshold=0.2).count() == 0
        # replay: nothing appended
        neardup_upsert_batch(
            batches[1], buck, threshold=0.2, table_prefix=prefix, n_buckets=8
        )
        assert {
            r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").collect()
        } == buck_ids

        # plan shape, with broadcast disabled so the join can't degrade
        # to a (store-side) BroadcastExchange that hides the contract
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            guard = batches[1].dropDuplicates(["doc_id"]).join(
                spark.table(f"{prefix}_docs").select("doc_id"), "doc_id", "left_anti"
            )
            plan = plan_string(guard)
            assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
            assert exchanges_covering(guard, f"{prefix}_docs") == 0, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

        # the index side of the delta check stays broadcast-prefiltered:
        # no UNFILTERED index row crosses an Exchange — the first join
        # ancestor of each index-table scan is a BroadcastHashJoin
        # LeftSemi (rows that survive the filter — collisions — cross
        # later shuffles by design; that's the O(delta + collisions)
        # shuffle volume, not O(store))
        from nlp_with_pyspark_spark.operators.dedup import (
            load_neardup_index,
            minhash_delta_pairs,
        )
        from nlp_with_pyspark_spark.plans import ancestor_chains

        delta = toks.limit(20).withColumn("doc_id", F.col("doc_id") + 10_000_000)
        unmat = minhash_delta_pairs(
            delta, load_neardup_index(spark, prefix, "minhash"), threshold=0.2,
            materialize=False,
        )
        for table in (f"{prefix}_buckets", f"{prefix}_shingles"):
            chains = ancestor_chains(unmat, table)
            assert chains, f"no scan of {table}"
            for chain in chains:
                first_join = next((op for op in chain if "Join" in op), None)
                assert first_join and "BroadcastHashJoin" in first_join and "LeftSemi" in first_join, (
                    table,
                    first_join,
                )
    finally:
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_neardup_upsert_crash_replay_no_duplicate_index_rows(spark, sf_dir, tmp_path):
    """Simulate the worst crash window — index rows appended, docs
    append never ran — then replay the batch. The scrub + idempotent
    append must leave the store EXACTLY as a crash-free run would:
    no duplicate index rows, disjointness repaired, same survivors.

    The crash state is produced FAITHFULLY: run the real upsert, then
    delete exactly the files its docs append created (the docs append
    is the last write = the commit point), so the leftover index rows
    are precisely what a crashed attempt stores."""
    import glob as _glob
    import os

    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    b1 = toks.where(F.col("doc_id") < cut)
    b2 = toks.where(F.col("doc_id") >= cut)
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec

    prefix = "t_ndcrash"
    kw = dict(threshold=0.2, table_prefix=prefix, n_buckets=8)
    try:
        store = str(tmp_path / "store")
        neardup_upsert_batch(b1, store, **kw)
        # crash-free reference of both batches
        expected_ids = _minhash_reference(toks, [b1, b2])
        docs_path = table_bucket_spec(spark, f"{prefix}_docs")[2]

        def docs_files():
            return set(_glob.glob(os.path.join(docs_path, "*.parquet")))

        before = docs_files()
        neardup_upsert_batch(b2, store, **kw)
        for f in docs_files() - before:  # crash: undo ONLY the commit point
            os.remove(f)
        spark.catalog.refreshTable(f"{prefix}_docs")

        # replay b2 (foreachBatch at-least-once)
        neardup_upsert_batch(b2, store, **kw)

        def tbl(name):
            return _tbl(spark, f"{prefix}_{name}")

        got_ids = {r.doc_id for r in tbl("docs").select("doc_id").collect()}
        assert got_ids == expected_ids
        # no duplicate index rows anywhere, and the index tracks the
        # stored docs EXACTLY (a real crashed attempt appends survivor
        # rows only, and the idempotent replay append cancels them)
        buckets = tbl("buckets")
        dup_buckets = (
            buckets.groupBy("doc_id", "band_id").count().where(F.col("count") > 1)
        )
        assert dup_buckets.count() == 0
        dup_sh = tbl("shingles").groupBy("doc_id").count().where(F.col("count") > 1)
        assert dup_sh.count() == 0
        stored_bucket_ids = {
            r.doc_id for r in buckets.select("doc_id").distinct().collect()
        }
        # shingle pre-filter: docs with < n tokens have no index rows
        assert stored_bucket_ids <= got_ids
        sh_ids = {r.doc_id for r in tbl("shingles").select("doc_id").distinct().collect()}
        assert sh_ids == stored_bucket_ids
    finally:
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS t_ndcrash_{t}")


def test_neardup_sink_compaction_keeps_invariants(spark, sf_dir, tmp_path):
    """compact_threshold_files wiring: with an aggressive threshold the
    store is compacted mid-stream; the invariant, the replay guard, and
    the zero-Exchange guard plan all survive compaction and a
    post-compaction batch."""
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs
    from nlp_with_pyspark_spark.plans import exchanges_covering, plan_string
    from nlp_with_pyspark_spark.sources.io import parquet_file_count, table_bucket_spec
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cuts = _id_cuts(toks, parts=3)
    batches = [
        toks.where(F.col("doc_id") < cuts[0]),
        toks.where((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        toks.where(F.col("doc_id") >= cuts[1]),
    ]
    prefix = "t_ndcomp"
    kw = dict(threshold=0.2, compact_threshold_files=2, table_prefix=prefix, n_buckets=4)
    try:
        store = str(tmp_path / "store")
        for b in batches[:2]:
            neardup_upsert_batch(b, store, **kw)
        docs_path = table_bucket_spec(spark, f"{prefix}_docs")[2]
        col, nb, _ = table_bucket_spec(spark, f"{prefix}_buckets")
        assert (col, nb) == ("band_hash", 4)  # spec survived compaction
        files_mid = parquet_file_count(docs_path)
        # threshold 2 with ≥2 appended file sets: compaction ran
        assert files_mid <= 4 + 2  # ~one file per bucket (+1 fresh append)

        # post-compaction batch + replay
        neardup_upsert_batch(batches[2], store, **kw)
        neardup_upsert_batch(batches[2], store, **kw)
        stored = _tbl(spark, f"{prefix}_docs")
        assert minhash_dedup_pairs(stored, threshold=0.2).count() == 0
        # reference: the ingest rule over the same batches
        ref_ids = _minhash_reference(toks, batches)
        assert {r.doc_id for r in stored.select("doc_id").collect()} == ref_ids
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            guard = batches[2].join(
                spark.table(f"{prefix}_docs").select("doc_id"), "doc_id", "left_anti"
            )
            assert "SortMergeJoin" in plan_string(guard)
            assert exchanges_covering(guard, f"{prefix}_docs") == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS t_ndcomp_{t}")


def test_neardup_upsert_simhash_bucketed_two_batches(spark, sf_dir, tmp_path):
    """hash_family='simhash' + table_prefix: the bucketed store works
    for the second family too — invariant holds across two batches,
    replay appends nothing, simhash index tables carry the bucketed
    layout."""
    from nlp_with_pyspark_spark.operators.dedup import simhash_near_pairs
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    batches = [toks.where(F.col("doc_id") < cut), toks.where(F.col("doc_id") >= cut)]
    prefix = "t_ndsim"
    kw = dict(
        hash_family="simhash", max_hamming=3, table_prefix=prefix, n_buckets=8
    )
    try:
        store = str(tmp_path / "simbuck")
        for b in batches:
            neardup_upsert_batch(b, store, **kw)
        stored = spark.table(f"{prefix}_docs")
        ids = {r.doc_id for r in stored.select("doc_id").collect()}
        assert ids
        assert simhash_near_pairs(stored, max_hamming=3).count() == 0
        assert table_bucket_spec(spark, f"{prefix}_keys")[:2] == ("band_hash", 8)
        assert table_bucket_spec(spark, f"{prefix}_fingerprints")[:2] == ("doc_id", 8)
        neardup_upsert_batch(batches[1], store, **kw)  # replay
        assert {r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").collect()} == ids
    finally:
        for t in ("docs", "keys", "fingerprints"):
            spark.sql(f"DROP TABLE IF EXISTS t_ndsim_{t}")


def test_neardup_upsert_bucketed_survives_catalog_loss(spark, sf_dir, tmp_path):
    """Restart story for the session-scoped catalog: dropping the table
    METADATA (what a new session sees) while the data dirs survive must
    NOT read as 'first batch' — the sink re-registers the tables over
    the existing files and keeps deduping against the full store."""
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    b1 = toks.where(F.col("doc_id") < cut)
    b2 = toks.where(F.col("doc_id") >= cut)
    prefix = "t_ndrestart"
    kw = dict(threshold=0.2, table_prefix=prefix, n_buckets=8)
    try:
        store = str(tmp_path / "store")
        neardup_upsert_batch(b1, store, **kw)
        ids1 = {r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").collect()}
        # simulate a restart: metadata gone, files intact
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE {prefix}_{t}")
        neardup_upsert_batch(b2, store, **kw)
        ids2 = {r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").collect()}
        assert ids1 <= ids2 and len(ids2) > len(ids1)
        # reference: the ingest rule over the same two batches
        assert ids2 == _minhash_reference(toks, [b1, b2])
    finally:
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS t_ndrestart_{t}")


def test_incremental_dedup_sink_bucketed_table(spark, tmp_path):
    """Exact-dedup sink, bucketed-store mode: same dedup semantics as
    the plain layout, replay appends nothing, compaction wired, and the
    replay guard reads the store with zero store-side Exchange."""
    from nlp_with_pyspark_spark.plans import exchanges_covering, plan_string
    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(
        spark,
        src / "f1",
        [(1, base, 10, "click", 1.0, "{}"), (2, base + 1_000_000, 11, "view", 2.0, "{}")],
    )
    _write_events_file(
        spark,
        src / "f2",
        [(2, base + 1_000_000, 11, "view", 2.0, "{}"), (3, base + 2_000_000, 12, "click", 3.0, "{}")],
    )
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    tbl = "t_exact_sink"
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream, dedup_store_upsert_batch, ckpt,
            store_path=store, table=tbl, n_buckets=4, compact_threshold_files=2
        )
        ids = sorted(r.event_id for r in spark.table(tbl).select("event_id").collect())
        assert ids == [1, 2, 3]
        # resume from the same checkpoint: no new input ⇒ unchanged
        stream2 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream2, dedup_store_upsert_batch, ckpt, store_path=store, table=tbl, n_buckets=4
        )
        assert sorted(
            r.event_id for r in spark.table(tbl).select("event_id").collect()
        ) == [1, 2, 3]
        # guard plan: store side crosses no shuffle Exchange
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            batch = spark.range(100).withColumnRenamed("id", "event_id")
            guard = batch.join(
                spark.table(tbl).select("event_id"), ["event_id"], "left_anti"
            )
            assert "SortMergeJoin" in plan_string(guard)
            assert exchanges_covering(guard, tbl) == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_neardup_upsert_semantic_family_single_batch(spark, sf_dir, tmp_path, request):
    """hash_family='semantic': single-batch ingest coincides with the
    batch pipeline (semantic pairs → components → keep-first canonical),
    and the store invariant holds under the same centroids/threshold."""
    from nlp_with_pyspark_spark.operators.dedup import (
        canonical_corpus,
        semantic_dedup_pairs,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    emb = read_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    store = str(tmp_path / "sem_store")
    prefix = "t_sem1"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("docs", "keys", "assigned")))
    )
    neardup_upsert_batch(
        emb,
        store,
        tokens_col="embedding",
        id_col="vec_id",
        hash_family="semantic",
        centroids=cents,
        threshold=0.3,
        table_prefix=prefix,
        n_buckets=4,
    )
    got = set(_stored(spark, f"{prefix}_docs", "vec_id"))
    pairs = semantic_dedup_pairs(emb, cents, threshold=0.3).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    assert pairs.count() > 0, "no semantic structure; test is vacuous"
    expected = {
        r.vec_id
        for r in canonical_corpus(emb, pairs, id_col="vec_id").select("vec_id").collect()
    }
    assert got == expected
    stored = _tbl(spark, f"{prefix}_docs")
    assert semantic_dedup_pairs(stored, cents, threshold=0.3).count() == 0
    # index layout: semantic family stores keys (band_hash = cluster
    # label) + assigned (label + normalized vector)
    assert spark.table(f"{prefix}_keys").columns == ["doc_id", "band_id", "band_hash"]
    assert spark.table(f"{prefix}_assigned").columns == ["doc_id", "list_id", "nv"]


def test_neardup_upsert_semantic_bucketed_multi_batch(spark, sf_dir, tmp_path):
    """Semantic family across batches: the survivors equal the
    driver-side reference of the ingest rule, the invariant holds after
    every batch, a replayed batch appends nothing, and the assigned
    table is bucketed by the cluster label (the delta join key)."""
    from nlp_with_pyspark_spark.operators.dedup import semantic_dedup_pairs
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    emb = read_table(spark, sf_dir, "embeddings").localCheckpoint()
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    mid = sorted(r.vec_id for r in emb.select("vec_id").collect())[emb.count() // 2]
    batches = [emb.where(F.col("vec_id") < mid), emb.where(F.col("vec_id") >= mid)]
    prefix = "t_semsink"
    kw = dict(
        tokens_col="embedding",
        id_col="vec_id",
        hash_family="semantic",
        centroids=cents,
        threshold=0.3,
    )
    try:
        buck = str(tmp_path / "buck")
        for b in batches:
            neardup_upsert_batch(b, buck, table_prefix=prefix, n_buckets=8, **kw)
        pairs = [
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(emb, cents, threshold=0.3).collect()
        ]
        ref_ids = _ingest_reference(
            [[r.vec_id for r in b.select("vec_id").collect()] for b in batches], pairs
        )
        buck_ids = {r.vec_id for r in spark.table(f"{prefix}_docs").select("vec_id").collect()}
        assert buck_ids == ref_ids and buck_ids
        assert (
            semantic_dedup_pairs(spark.table(f"{prefix}_docs"), cents, threshold=0.3).count()
            == 0
        )
        # replay is a no-op
        neardup_upsert_batch(batches[1], buck, table_prefix=prefix, n_buckets=8, **kw)
        assert {
            r.vec_id for r in spark.table(f"{prefix}_docs").select("vec_id").collect()
        } == buck_ids
        # the assigned table is bucketed by list_id — the delta join key
        col, n, _ = table_bucket_spec(spark, f"{prefix}_assigned")
        assert col == "list_id" and n == 8
    finally:
        for t in ("docs", "keys", "assigned"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_neardup_bucketed_restart_with_empty_index_tables(spark, tmp_path):
    """Restart regression: a bucketed store whose ingested docs produced
    ZERO index rows (every doc shorter than the shingle width n) used to
    crash the next batch after a catalog loss — register_bucketed_table
    had no parquet footers to infer the empty keys/shingles tables from,
    yet the sink refreshed/read them unconditionally. The _BUCKET_SPEC
    sidecar now carries the schema, so the empty tables re-register and
    the batch proceeds; docs must be APPENDED (never overwritten) across
    the restart."""
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    def toks(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "tokens", F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
        )

    store = str(tmp_path / "emptyidx")
    prefix = "t_emptyidx"
    try:
        # batch 1: both docs have < n=3 tokens -> no shingles, no keys
        neardup_upsert_batch(
            toks([(1, "one two"), (2, "three")]),
            store, threshold=0.2, table_prefix=prefix, n_buckets=8,
        )
        assert spark.table(f"{prefix}_docs").count() == 2
        assert spark.table(f"{prefix}_buckets").count() == 0

        # simulate session restart: in-memory catalog loses the tables
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")

        # batch 2 (normal-length docs) must self-heal and APPEND
        neardup_upsert_batch(
            toks([(3, "a proper document with enough tokens to shingle")]),
            store, threshold=0.2, table_prefix=prefix, n_buckets=8,
        )
        got = {r.doc_id for r in spark.table(f"{prefix}_docs").collect()}
        assert got == {1, 2, 3}
        assert spark.table(f"{prefix}_buckets").count() > 0
    finally:
        for t in ("docs", "buckets", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_hygiene_gate_composes_with_neardup_ingest(spark, tmp_path, request):
    """The full ingest pipeline a training-data store runs per
    micro-batch: decontaminate (exact + fuzzy, stateless vs a fixed
    benchmark) THEN near-dup-dedup against the persistent store. Two
    invariants must hold over the stored corpus after any number of
    batches: (1) no stored doc is contamination-flagged against the
    benchmark; (2) no near-dup pair among stored docs."""
    from nlp_with_pyspark_spark.operators.decontam import (
        benchmark_overlap,
        decontaminated_corpus,
        fuzzy_benchmark_overlap,
    )
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    def toks(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "tokens", F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
        )

    bench = toks([(900, "the five boxing wizards jump quickly over glass")])
    b1 = toks(
        [
            (1, "a clean document about completely unrelated matters here"),
            # contaminated: near-dup of the benchmark doc
            (2, "the five boxing wizards jump quickly over sand"),
            (3, "another clean document with different content entirely"),
        ]
    )
    b2 = toks(
        [
            # near-dup of stored doc 1 -> dropped by the dedup stage
            (4, "a clean document about completely unrelated matters here too"),
            # contaminated: quotes the benchmark inside a longer doc
            (5, "prefix words the five boxing wizards jump quickly over glass suffix"),
            (6, "a third clean document unlike anything stored before now"),
        ]
    )
    store = str(tmp_path / "hygiene_store")
    prefix = "t_hygiene"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("docs", "buckets", "shingles")))
    )
    for batch in (b1, b2):
        clean = decontaminated_corpus(
            batch, bench, n=3, exact_threshold=0.5, fuzzy_threshold=0.4
        )
        neardup_upsert_batch(clean, store, threshold=0.4, table_prefix=prefix, n_buckets=4)

    stored = _tbl(spark, f"{prefix}_docs")
    got = {r.doc_id for r in stored.select("doc_id").collect()}
    assert got == {1, 3, 6}
    # invariant 1: nothing stored is contamination-flagged
    assert benchmark_overlap(stored, bench, n=3, threshold=0.5).count() == 0
    assert fuzzy_benchmark_overlap(stored, bench, n=3, threshold=0.4).count() == 0
    # invariant 2: no near-dup pair among stored docs
    assert minhash_dedup_pairs(stored, threshold=0.4).count() == 0


def test_neardup_upsert_semantic_pandas_assign_matches_literal(spark, sf_dir, tmp_path, request):
    """assign_via='pandas' (the BLAS path mandatory at production
    quantizer sizes) must store the exact same survivor set as the
    literal-compiled path — the sink's new passthrough wires the
    chunked argmin into both the index append and the delta check."""
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    emb = read_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    ids = {}
    for via in ("literal", "pandas"):
        store = str(tmp_path / f"sem_{via}")
        prefix = f"t_sem_{via}"
        request.addfinalizer(
            lambda p=prefix: _drop_tables(
                spark, *(f"{p}_{t}" for t in ("docs", "keys", "assigned"))
            )
        )
        neardup_upsert_batch(
            emb,
            store,
            tokens_col="embedding",
            id_col="vec_id",
            hash_family="semantic",
            centroids=cents,
            threshold=0.3,
            assign_via=via,
            table_prefix=prefix,
            n_buckets=4,
        )
        ids[via] = set(_stored(spark, f"{prefix}_docs", "vec_id"))
    assert ids["literal"] == ids["pandas"] and ids["literal"]


# ---------------------------------------------------------------------------
# Search-index-on-ingest sink
# ---------------------------------------------------------------------------

_BM25_TERMS = ["dup", "join", "scan"]


def _bm25_rows(df):
    return [(r.doc_id, r.matched, r.score) for r in df.collect()]


def test_search_index_upsert_across_batches_matches_direct(spark, sf_dir, tmp_path):
    """Two ingest batches, then BM25 against the store: identical rows
    (scores compared with ==, not approx) to the direct scorer over the
    full corpus, and the derived stats equal the one-shot build's exact
    BIGINTs."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    store = str(tmp_path / "store")
    prefix = "t_sidx"
    kw = dict(table_prefix=prefix, n_buckets=8)
    try:
        search_index_upsert_batch(toks.where(F.col("doc_id") < cut), store, **kw)
        search_index_upsert_batch(toks.where(F.col("doc_id") >= cut), store, **kw)
        idx = load_posting_index(spark, prefix)
        assert _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=15)) == _bm25_rows(
            bm25_topk(toks, _BM25_TERMS, k=15)
        )
        got = idx.stats.collect()[0]
        ref = build_posting_index(toks).stats.collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (ref["n_docs"], ref["total_dl"])
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS t_sidx_{t}")


def test_search_index_crash_replay_no_duplicate_postings(spark, sf_dir, tmp_path):
    """Worst crash window — postings appended, docs append (the commit
    point) never ran — then replay. The idempotent append must cancel
    the stale rows: no duplicate (word, doc_id) anywhere, results and
    stats identical to a crash-free run."""
    import glob as _glob
    import os

    from nlp_with_pyspark_spark.operators.search import (
        PostingIndex,
        bm25_topk,
        bm25_topk_indexed,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    b1 = toks.where(F.col("doc_id") < cut)
    b2 = toks.where(F.col("doc_id") >= cut)
    store = str(tmp_path / "store")
    prefix = "t_sidxcrash"
    kw = dict(table_prefix=prefix, n_buckets=8)
    try:
        search_index_upsert_batch(b1, store, **kw)
        docs_path = f"{store}/docs"

        def docs_files():
            return set(_glob.glob(os.path.join(docs_path, "*.parquet")))

        before = docs_files()
        search_index_upsert_batch(b2, store, **kw)
        for f in docs_files() - before:  # crash: undo ONLY the commit point
            os.remove(f)
        spark.catalog.refreshTable(f"{prefix}_docs")

        search_index_upsert_batch(b2, store, **kw)  # replay

        def tbl(name):
            return _tbl(spark, f"{prefix}_{name}")

        postings = tbl("postings")
        dups = postings.groupBy("word", "doc_id").count().where(F.col("count") > 1)
        assert dups.count() == 0
        # the postings track the stored docs exactly
        p_ids = {r.doc_id for r in postings.select("doc_id").distinct().collect()}
        d_ids = {r.doc_id for r in tbl("docs").select("doc_id").collect()}
        assert p_ids <= d_ids  # token-less docs have no postings
        assert d_ids == {r.doc_id for r in toks.select("doc_id").collect()}
        idx = PostingIndex(postings, tbl("stats"))
        assert _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=15)) == _bm25_rows(
            bm25_topk(toks, _BM25_TERMS, k=15)
        )
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS t_sidxcrash_{t}")


def test_search_index_streaming_sink_end_to_end(spark, tmp_path, request):
    """The writeStream wrapper drains a file stream one file per
    trigger; the index then serves the whole corpus, and re-running
    from the same checkpoint appends nothing (stats unchanged)."""
    from nlp_with_pyspark_spark.functions.text import tokens_pipeline
    from nlp_with_pyspark_spark.operators.search import (
        PostingIndex,
        bm25_topk,
        bm25_topk_indexed,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch, sink

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = tmp_path / "src"
    src.mkdir()
    cut = 250
    docs.where(F.col("doc_id") < cut).coalesce(1).write.parquet(str(src / "b0"))
    docs.where(F.col("doc_id") >= cut).coalesce(1).write.parquet(str(src / "b1"))
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_sidx_e2e"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("postings", "docs", "stats")))
    )

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
            .withColumn("tokens", tokens_pipeline(F.col("text")))
        )
        sink(
            stream, search_index_upsert_batch, ckpt,
            store_path=store, table_prefix=prefix, n_buckets=4,
        )

    run()
    # the store's dirs read back as plain parquet too
    idx = PostingIndex(
        spark.read.parquet(f"{store}/postings"), spark.read.parquet(f"{store}/stats")
    )
    toks = docs.withColumn("tokens", tokens_pipeline(F.col("text")))
    expect = _bm25_rows(bm25_topk(toks, _BM25_TERMS, k=10))
    assert _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=10)) == expect
    stats_before = spark.read.parquet(f"{store}/stats").collect()[0]
    run()  # same checkpoint: no new input
    stats_after = spark.read.parquet(f"{store}/stats").collect()[0]
    assert (stats_before["n_docs"], stats_before["total_dl"]) == (
        stats_after["n_docs"], stats_after["total_dl"],
    )


def test_gap_filled_stream_matches_batch(spark, tmp_path):
    """Streaming LOCF resample ≡ batch resample_forward_fill after a
    finite drain: same grid, same fill values, same in-bucket
    tie-break. Sentinel far-future events under user -1 drive the
    watermark so every real bucket seals, and the second sentinel batch
    gives the event-time timeouts a trigger to flush buckets whose keys
    went silent."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.operators.windows import resample_forward_fill
    from nlp_with_pyspark_spark.sources.io import normalize_events
    from nlp_with_pyspark_spark.streaming.stateful import gap_filled_stream
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
    )

    base = 1_700_000_000_000_000
    hour = 3_600_000_000
    src = tmp_path / "gf_src"
    src.mkdir()
    # user 10: two in-bucket events at hour 0 (tie-break), then hour 3
    # (two gap hours); user 20: a single observation. Split across files
    # so the state crosses micro-batches mid-gap.
    _write_events_file(
        spark,
        src / "f1",
        [
            (1, base + 5_000_000, 10, "click", 1.0, "{}"),
            (2, base + 9_000_000, 10, "click", 2.5, "{}"),
            (3, base + hour + 1_000_000, 20, "view", 7.0, "{}"),
        ],
    )
    _write_events_file(
        spark,
        src / "f2",
        [(4, base + 3 * hour + 1_000_000, 10, "click", 9.0, "{}")],
    )
    _write_events_file(spark, src / "f3", [(900, base + 24 * hour, -1, "click", 0.0, "{}")])
    _write_events_file(spark, src / "f4", [(901, base + 25 * hour, -1, "click", 0.0, "{}")])

    stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
    out = gap_filled_stream(stream, width_sec=3600, watermark="1 minute")
    q = run_to_memory(out, "t_gapfill", output_mode="append")
    try:
        got = sorted(
            (r.user_id, r.bucket_start_epoch, r.value, r.is_gap)
            for r in spark.table("t_gapfill").collect()
            if r.user_id != -1
        )
    finally:
        q.stop()

    b = normalize_events(spark.read.parquet(str(src / "f*"))).where(
        F.col("user_id") != -1
    )
    want = sorted(
        (r.user_id, r.bucket_start_epoch, r.value, r.is_gap)
        for r in resample_forward_fill(b, width_sec=3600).collect()
    )
    assert got == want
    # the scenario actually exercises gaps + the in-bucket tie-break
    assert sum(1 for _, _, _, g in want if g) == 2
    assert (10, base // 1_000_000 // 3600 * 3600, 2.5, False) in want


def test_gap_filled_stream_resumes_after_idle_ttl(spark, tmp_path):
    """A key silent for (much) longer than idle_ttl_sec must still fill
    the WHOLE silent span when it resumes — the idle timeout sheds the
    pending buffer but retains the two-scalar LOCF frontier. The file
    sequence forces the timeout to actually fire mid-silence (sentinel
    user -1 triggers advance the watermark ~20 event-time hours past
    the key's last event while idle_ttl is 1 hour), so with an evicting
    timeout the resumed key would restart at last=None and the ~29 gap
    rows would silently never appear (the pre-fix divergence)."""
    import pyspark.sql.functions as F

    from nlp_with_pyspark_spark.operators.windows import resample_forward_fill
    from nlp_with_pyspark_spark.sources.io import normalize_events
    from nlp_with_pyspark_spark.streaming.stateful import gap_filled_stream
    from nlp_with_pyspark_spark.streaming.windows import (
        events_stream_from_dir,
        run_to_memory,
    )

    base = 1_700_000_000_000_000
    hour = 3_600_000_000
    src = tmp_path / "gf_ttl_src"
    src.mkdir()
    # one trigger per file: observe → seal → time out idle → resume
    files = [
        [(1, base + 5_000_000, 10, "click", 4.0, "{}")],        # obs @ h0
        [(900, base + 10 * hour, -1, "click", 0.0, "{}")],      # wm → ~h10
        [(901, base + 20 * hour, -1, "click", 0.0, "{}")],      # seal h0; arm idle ttl
        [(902, base + 21 * hour, -1, "click", 0.0, "{}")],      # idle timeout FIRES here
        [(2, base + 30 * hour + 1_000, 10, "click", 8.0, "{}")],  # resume @ h30
        [(903, base + 40 * hour, -1, "click", 0.0, "{}")],      # wm → ~h30, drain gaps
        [(904, base + 41 * hour, -1, "click", 0.0, "{}")],      # seal h30
    ]
    for i, rows in enumerate(files):
        _write_events_file(spark, src / f"f{i}", rows)

    stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
    out = gap_filled_stream(
        stream, width_sec=3600, watermark="1 minute", idle_ttl_sec=3600
    )
    q = run_to_memory(out, "t_gapfill_ttl", output_mode="append")
    try:
        got = sorted(
            (r.user_id, r.bucket_start_epoch, r.value, r.is_gap)
            for r in spark.table("t_gapfill_ttl").collect()
            if r.user_id != -1
        )
    finally:
        q.stop()

    b = normalize_events(spark.read.parquet(str(src / "f*"))).where(
        F.col("user_id") != -1
    )
    want = sorted(
        (r.user_id, r.bucket_start_epoch, r.value, r.is_gap)
        for r in resample_forward_fill(b, width_sec=3600).collect()
    )
    assert got == want
    # the scenario is only meaningful if the silent span dwarfs the ttl:
    # 29 gap hours all carrying the pre-silence value
    gaps = [(bkt, v) for _, bkt, v, g in want if g]
    assert len(gaps) == 29
    assert {v for _, v in gaps} == {4.0}


def test_search_index_sink_stats_respect_tombstones(spark, sf_dir, tmp_path):
    """Ingest → delete (operators/search.remove_from_posting_index) →
    ingest again: the sink's derived-stats overwrite must NOT
    resurrect the tombstoned docs' counts, and queries against the
    store equal the direct scorer over (all ingested) − (deleted)."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        remove_from_posting_index,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    cut = _id_cuts(toks)[0]
    store = str(tmp_path / "store")
    prefix = "t_sidx_tomb"
    kw = dict(table_prefix=prefix, n_buckets=8)
    try:
        search_index_upsert_batch(toks.where(F.col("doc_id") < cut), store, **kw)
        dead = [
            r.doc_id
            for r in toks.where(
                (F.col("doc_id") < cut) & (F.col("doc_id") % 3 == 0)
            ).select("doc_id").collect()
        ]
        assert remove_from_posting_index(spark, dead, prefix) == len(dead)
        # the next batch's stats recompute runs AFTER the delete
        search_index_upsert_batch(toks.where(F.col("doc_id") >= cut), store, **kw)
        idx = load_posting_index(spark, prefix)
        live = toks.where(~F.col("doc_id").isin(dead))
        assert _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=15)) == _bm25_rows(
            bm25_topk(live, _BM25_TERMS, k=15)
        )
        got = idx.stats.collect()[0]
        ref = build_posting_index(live).stats.collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (ref["n_docs"], ref["total_dl"])
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_search_index_delete_sink_stream_equals_batch(spark, sf_dir, tmp_path):
    """Takedowns as a stream: two micro-batches of doc ids tombstoned
    via the delete sink leave the index answering EXACTLY like (a) a
    single batch delete of the union and (b) the direct scorer over the
    corpus minus those ids; re-running from the same checkpoint (no new
    input) and replaying a batch's ids change nothing."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_delete_batch, sink

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    prefix = "t_sidx_delsink"
    persist_posting_index(
        build_posting_index(toks), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        dead = toks.where(F.col("doc_id") % 6 == 0).select("doc_id")
        src = tmp_path / "del_src"
        src.mkdir()
        dead.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
            str(src / "b0")
        )
        dead.where(F.col("doc_id") % 2 != 0).coalesce(1).write.parquet(
            str(src / "b1")
        )
        ckpt = str(tmp_path / "del_ckpt")

        def run():
            stream = (
                spark.readStream.schema("doc_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "b*"))
            )
            sink(stream, search_index_delete_batch, ckpt, table_prefix=prefix)

        run()
        live = toks.where(F.col("doc_id") % 6 != 0)
        idx = load_posting_index(spark, prefix)
        got = _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=15))
        assert got == _bm25_rows(bm25_topk(live, _BM25_TERMS, k=15))
        stats1 = idx.stats.collect()[0]
        want = build_posting_index(live).stats.collect()[0]
        assert (stats1["n_docs"], stats1["total_dl"]) == (
            want["n_docs"], want["total_dl"],
        )
        # re-run from the same checkpoint: no new input, nothing changes
        run()
        # at-least-once replay of a committed batch: the anti-join
        # drops every already-dead id
        from nlp_with_pyspark_spark.streaming.sinks import (
            search_index_delete_batch,
        )

        assert search_index_delete_batch(dead, prefix) == 0
        idx2 = load_posting_index(spark, prefix)
        assert _bm25_rows(bm25_topk_indexed(idx2, _BM25_TERMS, k=15)) == got
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS t_sidx_delsink_{t}")


def test_search_index_delete_sink_vacuum_threshold(spark, sf_dir, tmp_path):
    """The sink's LSM cadence: a delete batch that pushes the live
    tombstone count past the threshold triggers a vacuum — tombstones
    fold into a physical rewrite and empty out — while answers keep
    equaling the direct scorer over the survivors throughout."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_delete_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    prefix = "t_sidx_delvac"
    persist_posting_index(
        build_posting_index(toks), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        wave_a = toks.where(F.col("doc_id") % 10 == 0).select("doc_id")
        n_a = wave_a.count()
        # threshold above wave A: no vacuum yet
        search_index_delete_batch(
            wave_a, prefix, vacuum_threshold_tombstones=n_a + 1
        )
        assert spark.table(f"{prefix}_tombstones").count() == n_a
        # wave B crosses the threshold: vacuum fires, list empties
        wave_b = toks.where(F.col("doc_id") % 10 == 5).select("doc_id")
        search_index_delete_batch(
            wave_b, prefix, vacuum_threshold_tombstones=n_a + 1
        )
        assert spark.table(f"{prefix}_tombstones").count() == 0
        live = toks.where(~F.col("doc_id").isin(
            [r.doc_id for r in wave_a.union(wave_b).collect()]
        ))
        idx = load_posting_index(spark, prefix)
        assert idx.tombstones is None  # post-vacuum plan shape
        assert _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=15)) == _bm25_rows(
            bm25_topk(live, _BM25_TERMS, k=15)
        )
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS t_sidx_delvac_{t}")


def test_dsir_score_stream_equals_batch(spark, tmp_path):
    """Curation-on-ingest: scoring a drained document stream with a
    frozen DSIR weights frame is row-identical to the batch scorer with
    the same weights (stateless projection — no state, no watermark),
    and the in-stream keep_min gate equals the batch threshold filter."""
    from nlp_with_pyspark_spark.functions.text import tokens_pipeline
    from nlp_with_pyspark_spark.operators.selection import (
        dsir_score_stream,
        dsir_scores,
        dsir_weights,
    )
    from nlp_with_pyspark_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    toks = docs.withColumn("tokens", tokens_pipeline(F.col("text"))).localCheckpoint()
    w = dsir_weights(toks, toks.where(F.col("lang") == "en")).localCheckpoint()
    batch = {
        r.doc_id: (r.n_features, r.dsir_score)
        for r in dsir_scores(toks, None, weights=w).collect()
    }

    src = tmp_path / "dsir_src"
    src.mkdir()
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b0"))
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .withColumn("tokens", tokens_pipeline(F.col("text")))
    )
    run_to_memory(dsir_score_stream(stream, w), "t_dsir_stream", "append")
    got = {
        r.doc_id: (r.n_features, r.dsir_score)
        for r in spark.table("t_dsir_stream").collect()
    }
    assert got == batch

    # in-stream gate ≡ batch threshold filter at the batch median
    import statistics

    cut = statistics.median(sorted(v[1] for v in batch.values()))
    stream2 = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .withColumn("tokens", tokens_pipeline(F.col("text")))
    )
    run_to_memory(
        dsir_score_stream(stream2, w, keep_min=cut), "t_dsir_gate", "append"
    )
    kept = {r.doc_id for r in spark.table("t_dsir_gate").collect()}
    assert kept == {d for d, v in batch.items() if v[1] >= cut}
    assert 0 < len(kept) < len(batch)


def test_dsir_gate_then_search_index_ingest(spark, tmp_path, request):
    """The score-then-index pipeline the docstrings promise, end to
    end: documents stream through the frozen-model DSIR keep gate and
    the survivors flow straight into the search-index ingest sink —
    the final persisted index answers EXACTLY like one built in batch
    over the batch-selected subset."""
    from nlp_with_pyspark_spark.functions.text import tokens_pipeline
    from nlp_with_pyspark_spark.operators.search import (
        PostingIndex,
        bm25_topk,
        bm25_topk_indexed,
    )
    from nlp_with_pyspark_spark.operators.selection import (
        dsir_score_stream,
        dsir_scores,
        dsir_weights,
    )
    from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch, sink

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    toks = docs.withColumn("tokens", tokens_pipeline(F.col("text"))).localCheckpoint()
    w = dsir_weights(toks, toks.where(F.col("lang") == "en")).localCheckpoint()
    import statistics

    batch_scores = {
        r.doc_id: r.dsir_score for r in dsir_scores(toks, None, weights=w).collect()
    }
    cut = statistics.median(sorted(batch_scores.values()))

    src = tmp_path / "gate_src"
    src.mkdir()
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "b0"))
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .withColumn("tokens", tokens_pipeline(F.col("text")))
    )
    gated = dsir_score_stream(stream, w, keep_min=cut)
    store = str(tmp_path / "gate_store")
    prefix = "t_sidx_gate"
    request.addfinalizer(
        lambda: _drop_tables(spark, *(f"{prefix}_{t}" for t in ("postings", "docs", "stats")))
    )
    sink(
        gated, search_index_upsert_batch, str(tmp_path / "gate_ckpt"),
        store_path=store, table_prefix=prefix, n_buckets=4
    )

    kept = toks.where(
        F.col("doc_id").isin([d for d, s in batch_scores.items() if s >= cut])
    )
    idx = PostingIndex(
        spark.read.parquet(f"{store}/postings"), spark.read.parquet(f"{store}/stats")
    )
    got = _bm25_rows(bm25_topk_indexed(idx, _BM25_TERMS, k=10))
    assert got == _bm25_rows(bm25_topk(kept, _BM25_TERMS, k=10))
    # the index holds exactly the gated doc set
    stats = spark.read.parquet(f"{store}/stats").collect()[0]
    assert stats["n_docs"] == kept.count()


# ---------------------------------------------------------------------------
# Survivor-store takedowns (right-to-be-forgotten)
# ---------------------------------------------------------------------------


def _takedown_setup(spark, sf_dir, family):
    """(upsert kwargs, corpus frame, id_col) for one hash family."""
    if family == "semantic":
        emb = read_table(spark, sf_dir, "embeddings").localCheckpoint()
        cents = [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.where(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        ]
        kw = dict(
            tokens_col="embedding",
            id_col="vec_id",
            hash_family="semantic",
            centroids=cents,
            threshold=0.3,
        )
        return kw, emb, "vec_id"
    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    if family == "simhash":
        return dict(hash_family="simhash", max_hamming=3), toks, "doc_id"
    return dict(threshold=0.2), toks, "doc_id"


def _table_rows(spark, table):
    return sorted(map(tuple, spark.table(table).collect()))


@pytest.mark.parametrize("family", ["minhash", "simhash", "semantic"])
def test_neardup_takedown_delete_equals_filter(spark, sf_dir, tmp_path, family):
    """The survivor-store takedown contract, per family: (1) deleting
    ids is idempotent and ignores never-stored ids; (2) the tombstone
    list survives a session restart via the ``<docs>__tombstones``
    sidecar self-heal; (3) after vacuum, every store table is
    BIT-IDENTICAL to the original table with the dead docs' rows
    filtered out (delete ≡ rebuild-without at the table level — the
    posting-index pin applied to the dedup store), the tombstone list
    is reset, and the bucket-spec layout contract survives the staged
    rewrite."""
    from nlp_with_pyspark_spark.operators.dedup import (
        neardup_store_tombstones,
        remove_from_neardup_store,
        vacuum_neardup_store,
    )
    from nlp_with_pyspark_spark.sources.io import (
        register_bucketed_table,
        table_bucket_spec,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    kw, corpus, id_col = _takedown_setup(spark, sf_dir, family)
    prefix = f"t_takedown_{family}"
    keys_sfx, feats_sfx = (s for s, _ in NEARDUP_INDEX[family])
    suffixes = ("docs", keys_sfx, feats_sfx)
    store = str(tmp_path / "store")
    try:
        neardup_upsert_batch(
            corpus, store, table_prefix=prefix, n_buckets=8, **kw
        )
        snap = {s: _table_rows(spark, f"{prefix}_{s}") for s in suffixes}
        stored = sorted(
            r[0] for r in spark.table(f"{prefix}_docs").select(id_col).collect()
        )
        dead = stored[::5][:10]
        assert dead, "store too small; test is vacuous"
        n = remove_from_neardup_store(spark, dead, prefix, id_col=id_col)
        assert n == len(dead)
        # idempotent replay; never-stored ids are a no-op, not an error
        assert remove_from_neardup_store(spark, dead, prefix, id_col=id_col) == 0
        assert (
            remove_from_neardup_store(
                spark, [max(stored) + 999], prefix, id_col=id_col
            )
            == 0
        )

        # --- "restart": catalog entries vanish, files survive
        specs = {s: table_bucket_spec(spark, f"{prefix}_{s}") for s in suffixes}
        for s in suffixes + ("tombstones",):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")
        for s in suffixes:
            col, nb, path = specs[s]
            register_bucketed_table(spark, f"{prefix}_{s}", col, nb, path)
        tombs = neardup_store_tombstones(spark, prefix, id_col)
        assert tombs is not None
        assert sorted(r.doc_id for r in tombs.collect()) == sorted(dead)

        if family == "minhash":
            # serving plan shape with tombstones live: the live-corpus
            # read is the bucketed ledger scan plus ONE broadcast
            # anti-join — the store side crosses no Exchange (the
            # dedup_maintained_corpus serving contract)
            from nlp_with_pyspark_spark.plans import (
                exchanges_covering,
                plan_string,
            )

            live = spark.table(f"{prefix}_docs").join(
                F.broadcast(tombs.select("doc_id")), "doc_id", "left_anti"
            )
            p = plan_string(live)
            assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
            assert exchanges_covering(live, f"{prefix}_docs") == 0, p

        # --- vacuum: tables == original filtered, bit-identical
        report = vacuum_neardup_store(spark, prefix, family, id_col=id_col)
        assert report["tombstones_folded"] == len(dead)
        deadset = set(dead)
        for s in suffixes:
            keycol = id_col if s == "docs" else "doc_id"
            idx = spark.table(f"{prefix}_{s}").columns.index(keycol)
            expected = [t for t in snap[s] if t[idx] not in deadset]
            assert _table_rows(spark, f"{prefix}_{s}") == expected, s
        assert neardup_store_tombstones(spark, prefix, id_col) is None
        assert (
            vacuum_neardup_store(spark, prefix, family, id_col=id_col)[
                "tombstones_folded"
            ]
            == 0
        )
        for s in suffixes:
            col0, nb0, _ = specs[s]
            col1, nb1, _ = table_bucket_spec(spark, f"{prefix}_{s}")
            assert (col0, nb0) == (col1, nb1), s
    finally:
        for s in suffixes + ("tombstones",):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


@pytest.mark.parametrize("family", ["minhash", "semantic"])
def test_neardup_takedown_unsuppresses_future_neardups(
    spark, sf_dir, tmp_path, family
):
    """The behavioral point of the takedown: a deleted document must
    stop suppressing near-duplicates of its content. Before the delete,
    a copy of stored doc X is dropped at ingest; after the delete, a
    fresh copy is ADMITTED — while X itself stays excluded by the docs
    guard until a vacuum (the posting-index re-ingest rule)."""
    from nlp_with_pyspark_spark.operators.dedup import (
        remove_from_neardup_store,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    kw, corpus, id_col = _takedown_setup(spark, sf_dir, family)
    prefix = f"t_unsup_{family}"
    keys_sfx, feats_sfx = (s for s, _ in NEARDUP_INDEX[family])
    suffixes = ("docs", keys_sfx, feats_sfx)
    store = str(tmp_path / "store")
    try:
        neardup_upsert_batch(
            corpus, store, table_prefix=prefix, n_buckets=8, **kw
        )
        # X: a stored survivor that HAS index rows (so a copy collides)
        x = (
            spark.table(f"{prefix}_{feats_sfx}")
            .select(F.min("doc_id").alias("m"))
            .collect()[0]["m"]
        )
        top = corpus.agg(F.max(id_col)).collect()[0][0]

        def copy_of_x(new_id):
            return corpus.where(F.col(id_col) == x).withColumn(
                id_col, F.lit(new_id).cast("long")
            )

        n_docs = spark.table(f"{prefix}_docs").count()
        # a near-dup copy of live X is suppressed
        neardup_upsert_batch(
            copy_of_x(top + 1), store, table_prefix=prefix, n_buckets=8, **kw
        )
        assert spark.table(f"{prefix}_docs").count() == n_docs
        # take X down; a fresh copy is now admitted
        assert remove_from_neardup_store(spark, [x], prefix, id_col=id_col) == 1
        neardup_upsert_batch(
            copy_of_x(top + 2), store, table_prefix=prefix, n_buckets=8, **kw
        )
        kept = {
            r[0] for r in spark.table(f"{prefix}_docs").select(id_col).collect()
        }
        assert top + 2 in kept and top + 1 not in kept
        # X itself stays excluded until a vacuum: re-ingesting it
        # changes nothing (still exactly one ledger row for X)
        neardup_upsert_batch(
            corpus.where(F.col(id_col) == x),
            store,
            table_prefix=prefix,
            n_buckets=8,
            **kw,
        )
        assert (
            spark.table(f"{prefix}_docs").where(F.col(id_col) == x).count() == 1
        )
        assert spark.table(f"{prefix}_docs").count() == n_docs + 1
    finally:
        for s in suffixes + ("tombstones",):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


@pytest.mark.parametrize("family", ["minhash", "simhash", "semantic"])
def test_neardup_delete_sink_stream_equals_batch(spark, sf_dir, tmp_path, family):
    """Streaming takedowns ≡ batch takedowns, per family: ids arriving
    as a file stream through ``sink`` over ``neardup_delete_batch`` leave the store in
    exactly the filtered-snapshot state the batch delete + vacuum
    produces (the vacuum threshold fires on the last micro-batch), and
    replaying the whole stream against a fresh checkpoint is a no-op."""
    from nlp_with_pyspark_spark.operators.dedup import (
        neardup_store_tombstones,
    )
    from nlp_with_pyspark_spark.streaming.sinks import (
        neardup_delete_batch,
        neardup_upsert_batch,
        sink,
    )

    kw, corpus, id_col = _takedown_setup(spark, sf_dir, family)
    prefix = f"t_delsink_{family}"
    keys_sfx, feats_sfx = (s for s, _ in NEARDUP_INDEX[family])
    suffixes = ("docs", keys_sfx, feats_sfx)
    store = str(tmp_path / "store")
    try:
        neardup_upsert_batch(
            corpus, store, table_prefix=prefix, n_buckets=8, **kw
        )
        snap = {s: _table_rows(spark, f"{prefix}_{s}") for s in suffixes}
        stored = sorted(
            r[0] for r in spark.table(f"{prefix}_docs").select(id_col).collect()
        )
        dead = stored[::7][:6]
        assert len(dead) >= 2, "store too small; test is vacuous"
        # two files -> two micro-batches; threshold == len(dead) so the
        # vacuum fires exactly on the final batch
        src = tmp_path / "ids_src"
        src.mkdir()
        half = len(dead) // 2
        for i, chunk in enumerate((dead[:half], dead[half:])):
            spark.createDataFrame(
                [(int(d),) for d in chunk], f"{id_col} long"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
        stream = (
            spark.readStream.schema(f"{id_col} long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )
        sink(
            stream,
            neardup_delete_batch,
            str(tmp_path / "ckpt1"),
            table_prefix=prefix,
            hash_family=family,
            id_col=id_col,
            vacuum_threshold_tombstones=len(dead),
        )
        # the vacuum's directory swap ran inside the micro-batch's
        # session clone; this session's cached file listings are stale
        for s in suffixes:
            spark.catalog.refreshTable(f"{prefix}_{s}")
        deadset = set(dead)
        for s in suffixes:
            keycol = id_col if s == "docs" else "doc_id"
            idx = spark.table(f"{prefix}_{s}").columns.index(keycol)
            expected = [t for t in snap[s] if t[idx] not in deadset]
            assert _table_rows(spark, f"{prefix}_{s}") == expected, s
        assert neardup_store_tombstones(spark, prefix, id_col) is None

        # full replay against a fresh checkpoint: every id is already
        # vacuumed out of the ledger, so nothing is re-tombstoned
        stream2 = (
            spark.readStream.schema(f"{id_col} long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )
        sink(
            stream2,
            neardup_delete_batch,
            str(tmp_path / "ckpt2"),
            table_prefix=prefix,
            hash_family=family,
            id_col=id_col,
            vacuum_threshold_tombstones=len(dead),
        )
        assert neardup_store_tombstones(spark, prefix, id_col) is None
        for s in suffixes:
            spark.catalog.refreshTable(f"{prefix}_{s}")
        for s in suffixes:
            keycol = id_col if s == "docs" else "doc_id"
            idx = spark.table(f"{prefix}_{s}").columns.index(keycol)
            expected = [t for t in snap[s] if t[idx] not in deadset]
            assert _table_rows(spark, f"{prefix}_{s}") == expected, s
    finally:
        for s in suffixes + ("tombstones",):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def _exact_store_rows(spark, tbl):
    return sorted(map(tuple, spark.table(tbl).collect()))


def test_exact_dedup_store_takedown(spark, tmp_path):
    """Takedowns for the exact-dedup sink store — the fourth persisted
    store family: (1) deletes are idempotent, ignore never-stored keys,
    and leave load_exact_dedup_store serving the live rows via one
    broadcast anti-join; (2) a tombstoned key stays dead until a vacuum
    (the sink's guard still sees the stored row, so an identical
    re-ingest pre-vacuum is suppressed); (3) the tombstone list
    restart-heals from its sidecar; (4) after vacuum the store table is
    bit-identical to the original filtered, and a re-ingest of the
    forgotten key is admitted as a first occurrence again."""
    from nlp_with_pyspark_spark.operators.dedup import (
        exact_dedup_store_tombstones,
        load_exact_dedup_store,
        remove_from_exact_dedup_store,
        vacuum_exact_dedup_store,
    )
    from nlp_with_pyspark_spark.sources.io import (
        register_bucketed_table,
        table_bucket_spec,
    )
    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        (i, base + i * 1_000_000, 10 + i, "click", float(i), "{}")
        for i in range(1, 7)
    ]
    _write_events_file(spark, src / "f1", rows)
    store = str(tmp_path / "store")
    tbl = "t_exact_takedown"
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream, dedup_store_upsert_batch, str(tmp_path / "ck1"),
            store_path=store, table=tbl, n_buckets=4
        )
        snap = _exact_store_rows(spark, tbl)
        assert len(snap) == 6

        dead = [2, 4]
        assert remove_from_exact_dedup_store(spark, dead, tbl) == 2
        assert remove_from_exact_dedup_store(spark, dead, tbl) == 0
        assert remove_from_exact_dedup_store(spark, [99], tbl) == 0
        live = load_exact_dedup_store(spark, tbl)
        assert sorted(r.event_id for r in live.collect()) == [1, 3, 5, 6]

        # pre-vacuum: an identical re-crawl of a tombstoned key is NOT
        # re-admitted (the guard still sees the stored row)
        _write_events_file(spark, src / "f2", [rows[1]])  # event_id 2
        stream2 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream2, dedup_store_upsert_batch, str(tmp_path / "ck2"),
            store_path=store, table=tbl, n_buckets=4
        )
        assert sorted(
            r.event_id for r in load_exact_dedup_store(spark, tbl).collect()
        ) == [1, 3, 5, 6]

        # --- restart: catalog gone, files survive
        col, nb, path = table_bucket_spec(spark, tbl)
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        register_bucketed_table(spark, tbl, col, nb, path)
        tombs = exact_dedup_store_tombstones(spark, tbl)
        assert tombs is not None
        assert sorted(r.event_id for r in tombs.collect()) == dead

        # --- vacuum: store == original filtered, bit-identical
        report = vacuum_exact_dedup_store(spark, tbl)
        assert report["tombstones_folded"] == 2
        expected = [t for t in snap if t[0] not in set(dead)]
        assert _exact_store_rows(spark, tbl) == expected
        assert exact_dedup_store_tombstones(spark, tbl) is None
        assert vacuum_exact_dedup_store(spark, tbl)["tombstones_folded"] == 0

        # post-vacuum: the forgotten key re-ingests as a first
        # occurrence (a fresh checkpoint replays all files; only the
        # genuinely-missing key lands)
        stream3 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream3, dedup_store_upsert_batch, str(tmp_path / "ck3"),
            store_path=store, table=tbl, n_buckets=4
        )
        assert sorted(
            r.event_id for r in load_exact_dedup_store(spark, tbl).collect()
        ) == [1, 2, 3, 4, 5, 6]
    finally:
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_store_delete_sink_stream_equals_batch(spark, tmp_path):
    """Streaming takedowns against the exact-dedup store: keys arriving
    as a file stream leave the store in the filtered-snapshot state
    (vacuum fires on the final micro-batch via the threshold), and a
    full replay against a fresh checkpoint re-tombstones nothing."""
    from nlp_with_pyspark_spark.operators.dedup import (
        exact_dedup_store_tombstones,
    )
    from nlp_with_pyspark_spark.streaming.sinks import (
        dedup_store_delete_batch,
        dedup_store_upsert_batch,
        sink,
    )
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        (i, base + i * 1_000_000, 10 + i, "view", float(i), "{}")
        for i in range(1, 9)
    ]
    _write_events_file(spark, src / "f1", rows)
    store = str(tmp_path / "store")
    tbl = "t_exact_delsink"
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream, dedup_store_upsert_batch, str(tmp_path / "ck"),
            store_path=store, table=tbl, n_buckets=4
        )
        snap = _exact_store_rows(spark, tbl)
        dead = [2, 4, 6, 8]
        ids_src = tmp_path / "ids"
        ids_src.mkdir()
        for i, chunk in enumerate((dead[:2], dead[2:])):
            spark.createDataFrame(
                [(k,) for k in chunk], "event_id long"
            ).coalesce(1).write.parquet(str(ids_src / f"b{i}"))
        key_stream = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ids_src / "b*"))
        )
        sink(
            key_stream, dedup_store_delete_batch, str(tmp_path / "dck1"), table=tbl,
            vacuum_threshold_tombstones=len(dead),
        )
        spark.catalog.refreshTable(tbl)
        expected = [t for t in snap if t[0] not in set(dead)]
        assert _exact_store_rows(spark, tbl) == expected
        assert exact_dedup_store_tombstones(spark, tbl) is None

        key_stream2 = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ids_src / "b*"))
        )
        sink(
            key_stream2, dedup_store_delete_batch, str(tmp_path / "dck2"), table=tbl,
            vacuum_threshold_tombstones=len(dead),
        )
        spark.catalog.refreshTable(tbl)
        assert _exact_store_rows(spark, tbl) == expected
        assert exact_dedup_store_tombstones(spark, tbl) is None
    finally:
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_neardup_upsert_scrubs_stale_tombstone_after_crashed_vacuum(
    spark, sf_dir, tmp_path
):
    """The vacuum crash window (died after the physical folds, before
    the tombstone clear) must not invisibly shadow a re-ingest: a stale
    tombstone row — an id the docs ledger no longer holds — is scrubbed
    by neardup_upsert_batch when it admits that id (the vector store's
    protocol), so the re-ingested survivors are visible to every future
    delta check and the store returns to its exact pre-takedown state."""
    from nlp_with_pyspark_spark.operators.dedup import (
        neardup_store_tombstones,
        remove_from_neardup_store,
        vacuum_neardup_store,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    kw, corpus, id_col = _takedown_setup(spark, sf_dir, "minhash")
    prefix = "t_takedown_crashwin"
    store = str(tmp_path / "store")
    try:
        neardup_upsert_batch(corpus, store, table_prefix=prefix, n_buckets=8, **kw)
        snap_docs = _table_rows(spark, f"{prefix}_docs")
        stored = sorted(
            r[0] for r in spark.table(f"{prefix}_docs").select(id_col).collect()
        )
        dead = stored[::5][:10]
        remove_from_neardup_store(spark, dead, prefix, id_col=id_col)
        vacuum_neardup_store(spark, prefix, "minhash", id_col=id_col)
        # simulate the crash: the folds completed, the clear did not —
        # re-insert the tombstone rows over the already-folded ids
        spark.createDataFrame(
            [(int(d),) for d in dead], "doc_id long"
        ).write.mode("append").format("parquet").saveAsTable(
            f"{prefix}_tombstones"
        )
        spark.catalog.refreshTable(f"{prefix}_tombstones")
        assert neardup_store_tombstones(spark, prefix, id_col) is not None

        # re-ingest the folded docs: survivors never near-dup each other
        # (the store invariant), so the whole batch is admitted — and
        # admitting an id with a stale tombstone row scrubs that row
        batch = corpus.where(F.col(id_col).isin([int(d) for d in dead]))
        neardup_upsert_batch(batch, store, table_prefix=prefix, n_buckets=8, **kw)
        assert neardup_store_tombstones(spark, prefix, id_col) is None
        assert _table_rows(spark, f"{prefix}_docs") == snap_docs
        # the next vacuum has nothing to fold — the window left no debt
        assert (
            vacuum_neardup_store(spark, prefix, "minhash", id_col=id_col)[
                "tombstones_folded"
            ]
            == 0
        )
        assert _table_rows(spark, f"{prefix}_docs") == snap_docs
    finally:
        for s in ("docs", "buckets", "shingles", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def test_exact_store_upsert_scrubs_stale_tombstone_after_crashed_vacuum(
    spark, tmp_path
):
    """Exact-store twin of the crash-window scrub: a stale tombstone
    row for a key the store table no longer holds is scrubbed by the
    ingest sink when it re-admits that key, so the re-ingested row
    serves immediately instead of being anti-joined away by every
    consumer until the next vacuum deletes it."""
    from nlp_with_pyspark_spark.operators.dedup import (
        exact_dedup_store_tombstones,
        load_exact_dedup_store,
        remove_from_exact_dedup_store,
        vacuum_exact_dedup_store,
    )
    from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink
    from nlp_with_pyspark_spark.streaming.windows import events_stream_from_dir

    base = 1_700_000_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        (i, base + i * 1_000_000, 10 + i, "click", float(i), "{}")
        for i in range(1, 7)
    ]
    _write_events_file(spark, src / "f1", rows)
    store = str(tmp_path / "store")
    tbl = "t_exact_crashwin"
    try:
        stream = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream, dedup_store_upsert_batch, str(tmp_path / "ck1"),
            store_path=store, table=tbl, n_buckets=4
        )
        snap = _exact_store_rows(spark, tbl)
        dead = [2, 4]
        remove_from_exact_dedup_store(spark, dead, tbl)
        vacuum_exact_dedup_store(spark, tbl)
        # simulate the crash: folds done, clear not
        spark.createDataFrame(
            [(int(d),) for d in dead], "event_id long"
        ).write.mode("append").format("parquet").saveAsTable(f"{tbl}_tombstones")
        spark.catalog.refreshTable(f"{tbl}_tombstones")
        assert exact_dedup_store_tombstones(spark, tbl) is not None

        # fresh-checkpoint replay re-ingests the folded keys — admitted
        # (the table lacks them) and their stale tombstone rows scrubbed
        stream2 = events_stream_from_dir(spark, str(src / "f*"), max_files_per_trigger=1)
        sink(
            stream2, dedup_store_upsert_batch, str(tmp_path / "ck2"),
            store_path=store, table=tbl, n_buckets=4
        )
        assert exact_dedup_store_tombstones(spark, tbl) is None
        # refresh: the outer session's file-listing cache predates the
        # sink's append (production readers go through
        # load_exact_dedup_store, which refreshes)
        spark.catalog.refreshTable(tbl)
        assert _exact_store_rows(spark, tbl) == snap
        assert sorted(
            r.event_id for r in load_exact_dedup_store(spark, tbl).collect()
        ) == [1, 2, 3, 4, 5, 6]
        assert vacuum_exact_dedup_store(spark, tbl)["tombstones_folded"] == 0
    finally:
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_neardup_takedown_random_lifecycle_invariants(spark, sf_dir, tmp_path):
    """Seeded random interleavings of the survivor-store lifecycle —
    upsert / delete-wave / vacuum / replay — must preserve the store's
    four standing invariants at EVERY step (the per-transition tests
    pin each edge; this pins the paths):

      I1  no near-dup pair among LIVE docs (the store invariant,
          takedown-aware);
      I2  a deleted id is never live again until a vacuum clears its
          tombstone AND a later batch re-ingests it;
      I3  a vacuum never changes the live set;
      I4  replaying the previous operation verbatim never changes the
          live set (idempotence under at-least-once delivery).
    """
    import random

    from nlp_with_pyspark_spark.operators.dedup import (
        minhash_dedup_pairs,
        neardup_store_tombstones,
        remove_from_neardup_store,
        vacuum_neardup_store,
    )
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    ids = sorted(r.doc_id for r in toks.select("doc_id").collect())
    rng = random.Random(11)
    n_batches = 4
    cuts = [ids[i * len(ids) // n_batches] for i in range(1, n_batches)]
    bounds = [min(ids) - 1] + cuts + [max(ids) + 1]
    batches = [
        toks.where((F.col("doc_id") > bounds[i]) & (F.col("doc_id") <= bounds[i + 1]))
        for i in range(n_batches)
    ]
    prefix = "t_ndlife"
    store = str(tmp_path / "store")
    kw = dict(threshold=0.2, table_prefix=prefix, n_buckets=8)

    def live_ids():
        spark.catalog.refreshTable(f"{prefix}_docs")
        live = spark.table(f"{prefix}_docs")
        tombs = neardup_store_tombstones(spark, prefix)
        if tombs is not None:
            live = live.join(
                F.broadcast(tombs.select("doc_id")), "doc_id", "left_anti"
            )
        return {r.doc_id for r in live.select("doc_id").collect()}

    try:
        neardup_upsert_batch(batches[0], store, **kw)
        tombstoned: set = set()
        next_batch = 1
        ops: list = []
        for _ in range(8):
            choice = rng.choice(["upsert", "delete", "vacuum", "replay"])
            before = live_ids()
            if choice == "upsert" and next_batch < n_batches:
                neardup_upsert_batch(batches[next_batch], store, **kw)
                ops.append(("upsert", next_batch))
                next_batch += 1
            elif choice == "delete" and before:
                wave = sorted(rng.sample(sorted(before), min(5, len(before))))
                remove_from_neardup_store(spark, wave, prefix)
                tombstoned.update(wave)
                ops.append(("delete", wave))
                # I2: the wave is immediately not-live
                assert not (live_ids() & set(wave))
            elif choice == "vacuum":
                vacuum_neardup_store(spark, prefix, "minhash")
                tombstoned = set()
                ops.append(("vacuum", None))
                assert live_ids() == before  # I3
            elif choice == "replay" and ops:
                kind, arg = ops[-1]
                if kind == "upsert":
                    neardup_upsert_batch(batches[arg], store, **kw)
                elif kind == "delete":
                    assert remove_from_neardup_store(spark, arg, prefix) == 0
                else:
                    vacuum_neardup_store(spark, prefix, "minhash")
                assert live_ids() == before  # I4
            # I2 (standing): tombstoned ids are never live
            assert not (live_ids() & tombstoned)
        # I1 at the end: live docs contain no near-dup pair
        live = toks.join(
            spark.createDataFrame(
                [(i,) for i in sorted(live_ids())], "doc_id long"
            ),
            "doc_id",
            "left_semi",
        )
        assert minhash_dedup_pairs(live, threshold=0.2).count() == 0
    finally:
        for s in ("docs", "buckets", "shingles", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def test_takedown_fanout_hits_every_store(spark, sf_dir, tmp_path):
    """One takedown-id stream must converge EVERY persisted store:
    after the fan-out sink drains, the posting index answers as if the
    dead docs were never indexed, the near-dup survivor store's live
    set excludes them, and a full replay against a fresh checkpoint
    re-tombstones nothing anywhere (per-store idempotence is what makes
    the multi-store fan-out converge under at-least-once delivery)."""
    from nlp_with_pyspark_spark.operators.dedup import (
        neardup_store_tombstones,
    )
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.streaming.sinks import (
        neardup_upsert_batch,
        sink,
        takedown_fanout_batch,
    )

    toks = _neardup_toks(spark, sf_dir).localCheckpoint()
    pidx = "t_fan_pidx"
    ndx = "t_fan_nd"
    store = str(tmp_path / "nd_store")
    try:
        persist_posting_index(
            build_posting_index(toks), pidx, n_buckets=8,
            path=str(tmp_path / "pidx"),
        )
        neardup_upsert_batch(
            toks, store, threshold=0.2, table_prefix=ndx, n_buckets=8
        )
        survivors = sorted(
            r.doc_id for r in spark.table(f"{ndx}_docs").select("doc_id").collect()
        )
        dead = survivors[::6][:8]
        src = tmp_path / "ids"
        src.mkdir()
        half = len(dead) // 2
        for i, chunk in enumerate((dead[:half], dead[half:])):
            spark.createDataFrame(
                [(int(d),) for d in chunk], "doc_id long"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
        targets = [
            {"kind": "posting", "table_prefix": pidx},
            {"kind": "neardup", "table_prefix": ndx, "hash_family": "minhash"},
        ]

        def run(ck):
            stream = (
                spark.readStream.schema("doc_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "b*"))
            )
            sink(stream, takedown_fanout_batch, str(tmp_path / ck), targets=targets)

        run("ck1")
        # posting index: answers equal the direct path over the live corpus
        live_corpus = toks.join(
            spark.createDataFrame([(int(d),) for d in dead], "doc_id long"),
            "doc_id",
            "left_anti",
        )
        got = _bm25_rows(bm25_topk_indexed(load_posting_index(spark, pidx), _BM25_TERMS, k=15))
        assert got == _bm25_rows(bm25_topk(live_corpus, _BM25_TERMS, k=15))
        # near-dup store: dead ids tombstoned, live set excludes them
        nd_tombs = neardup_store_tombstones(spark, ndx)
        assert sorted(r.doc_id for r in nd_tombs.collect()) == sorted(dead)
        # posting index: same ids tombstoned
        assert sorted(
            r.doc_id for r in spark.table(f"{pidx}_tombstones").collect()
        ) == sorted(dead)

        # full replay, fresh checkpoint: both stores unchanged
        run("ck2")
        assert sorted(r.doc_id for r in spark.table(f"{pidx}_tombstones").collect()) == sorted(dead)
        assert sorted(
            r.doc_id
            for r in neardup_store_tombstones(spark, ndx).collect()
        ) == sorted(dead)
        assert _bm25_rows(
            bm25_topk_indexed(load_posting_index(spark, pidx), _BM25_TERMS, k=15)
        ) == got
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {pidx}_{t}")
        for t in ("docs", "buckets", "shingles", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {ndx}_{t}")
