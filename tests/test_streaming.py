"""Structured Streaming: windowed event counts + incremental edge state."""

import pytest
from pyspark.sql import functions as F

from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
    incremental_copurchase,
    merge_edge_batch,
    read_edge_state,
    read_events_stream,
    run_stream_to_memory,
    stateful_user_stats,
    windowed_event_counts,
)


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    """Streaming dropDuplicates key emission over static files == batch
    SELECT DISTINCT (arrival order cannot matter because only the key
    columns are emitted)."""
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        streaming_dedup_keys)

    stream = read_events_stream(spark, sf_dir)
    dd = streaming_dedup_keys(stream, ["user_id", "event_type"])
    q = run_stream_to_memory(dd, "dedup_stream", output_mode="append")
    try:
        got = {(r.user_id, r.event_type)
               for r in spark.sql("SELECT * FROM dedup_stream").collect()}
    finally:
        q.stop()
    want = {(r.user_id, r.event_type)
            for r in load_table(spark, sf_dir, "events")
            .select("user_id", "event_type").distinct().collect()}
    assert got == want
    assert len(got) > 0


def test_windowed_counts_match_batch(spark, sf_dir):
    """Streaming tumbling-window agg over static files == batch equivalent."""
    stream = read_events_stream(spark, sf_dir)
    agg = windowed_event_counts(stream)
    q = run_stream_to_memory(agg, "hourly_stream")
    try:
        got = {
            (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
            for r in spark.sql("SELECT * FROM hourly_stream").collect()
        }
    finally:
        q.stop()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    want = {(r.window.start, r.event_type): (r.n, round(r.v, 6)) for r in batch}
    assert got == want
    assert len(got) > 0


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    """applyInPandasWithState totals == batch groupBy over the same files."""
    stream = read_events_stream(spark, sf_dir)
    q = run_stream_to_memory(stateful_user_stats(stream), "user_state", "update")
    try:
        # update mode may emit one row per user per batch — keep the last
        got = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in spark.sql(
                "SELECT * FROM user_state ORDER BY n_events ASC").collect()
        }
    finally:
        q.stop()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    want = {r.user_id: (r.n, round(r.v, 6)) for r in batch}
    assert got == want


def test_incremental_copurchase_merges_batches(spark, tmp_path):
    """foreachBatch edge maintenance accumulates across micro-batches."""
    state = str(tmp_path / "edges_state")
    in_dir = tmp_path / "orders_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "order_id long, item_id long")
    batch1.write.parquet(str(in_dir / "b1.parquet"))

    # recursiveFileLookup: each batch write is a b*.parquet/ subdirectory
    stream = (
        spark.readStream.schema("order_id long, item_id long")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = incremental_copurchase(stream, state, ckpt)
    q.awaitTermination(60)

    edges1 = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges1[(10, 11)] == 1 and edges1[(10, 12)] == 1

    # second batch repeats an order pairing → weight increments
    batch2 = spark.createDataFrame([(3, 10), (3, 11)], "order_id long, item_id long")
    batch2.write.parquet(str(in_dir / "b2.parquet"))
    q2 = incremental_copurchase(stream, state, ckpt)
    q2.awaitTermination(60)

    edges2 = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges2[(10, 11)] == 2
    assert edges2[(10, 12)] == 1


def test_merge_edge_batch_replay_is_idempotent(spark, tmp_path):
    """at-least-once foreachBatch: replaying an epoch must not double-count."""
    state = str(tmp_path / "edges_state")
    pairs = spark.createDataFrame([(10, 11), (10, 12)], "src long, dst long")
    merge_edge_batch(pairs, state, epoch_id=0)
    merge_edge_batch(pairs, state, epoch_id=0)  # replay of the same epoch
    edges = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges == {(10, 11): 1, (10, 12): 1}
    merge_edge_batch(pairs, state, epoch_id=1)  # a genuinely new epoch merges
    edges = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges == {(10, 11): 2, (10, 12): 2}


def test_merge_edge_batch_run_identity_resets_epoch(spark, tmp_path):
    """A new checkpoint identity restarts epoch numbering at 0; the merge
    must treat that as fresh work, not a replay to skip (ADVICE r2)."""
    state = str(tmp_path / "edges_state_runid")
    pairs = spark.createDataFrame([(10, 11)], "src long, dst long")
    merge_edge_batch(pairs, state, epoch_id=5, run_id="run-A")
    # same run, epoch regression -> replay, skipped
    merge_edge_batch(pairs, state, epoch_id=0, run_id="run-A")
    edges = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges == {(10, 11): 1}
    # NEW run (checkpoint cleared): epoch 0 is legitimate new work
    merge_edge_batch(pairs, state, epoch_id=0, run_id="run-B")
    edges = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges == {(10, 11): 2}
    # and the new run's own replays still dedup
    merge_edge_batch(pairs, state, epoch_id=0, run_id="run-B")
    edges = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state).collect()}
    assert edges == {(10, 11): 2}


def test_dedup_within_watermark_evicts_but_keeps_horizon_exact(spark, tmp_path):
    """dropDuplicatesWithinWatermark — the documented unbounded-key scale
    path for streaming dedup: duplicates arriving within the watermark
    horizon are dropped, and state for expired keys is evicted (so a
    duplicate arriving AFTER the horizon may re-emit — the documented
    at-most-one-per-horizon trade). Two microbatches drive eviction."""
    import json
    import os

    src = tmp_path / "src"
    os.makedirs(src)
    chk = str(tmp_path / "chk")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # batch 1: key A twice within horizon (one survives), watermark moves to
    # 12:00 via the max event; horizon = 12:00 - 10min = 11:50
    write_batch("b1.json", [
        {"k": "A", "ts": "2024-01-01 10:00:00"},
        {"k": "A", "ts": "2024-01-01 10:00:05"},
        {"k": "W", "ts": "2024-01-01 12:00:00"},
    ])
    stream = (spark.readStream.schema("k string, ts timestamp")
              .json(str(src)))
    dd = stream.withWatermark("ts", "10 minutes") \
        .dropDuplicatesWithinWatermark(["k"])
    q = (dd.writeStream.outputMode("append").format("memory")
         .queryName("ddww").option("checkpointLocation", chk).start())
    q.processAllAvailable()
    # batch 2: key A again, far past the horizon — its old state was
    # evicted, so it re-emits
    write_batch("b2.json", [{"k": "A", "ts": "2024-01-01 13:00:00"}])
    q.processAllAvailable()
    q.stop()
    rows = [(r.k, str(r.ts)) for r in spark.sql("SELECT * FROM ddww").collect()]
    a_rows = [r for r in rows if r[0] == "A"]
    assert len(a_rows) == 2, rows  # one per horizon, not one forever
    assert len([r for r in rows if r[0] == "W"]) == 1


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """Streaming native session_window state over static files == the
    batch session_window aggregation (complete mode never evicts)."""
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        session_window_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    q = run_stream_to_memory(session_window_counts(stream), "sessions_stream")
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM sessions_stream").collect()}
    finally:
        q.stop()
    from hybrid_recommendation_system_using_vector_db_spark.functions.portable import fround

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select("user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                "n_events", fround(F.col("total_value"), 2).alias("total_value"))
        .collect()
    )
    want = {tuple(r) for r in batch}
    assert got == want
    assert len(got) > 0


def test_stream_stream_attribution_matches_batch_range_join(spark, sf_dir):
    """The watermarked inner stream-stream interval join must emit exactly
    the batch range join's rows (append mode, static files), including the
    inclusive [t_ts, t_ts + horizon] boundary."""
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        stream_stream_attribution,
    )
    from hybrid_recommendation_system_using_vector_db_spark.functions.portable import (
        epoch_seconds, fround)

    ev = read_events_stream(spark, sf_dir)
    joined = stream_stream_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour")
    q = run_stream_to_memory(joined, "attr_stream", output_mode="append")
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM attr_stream").collect()}
    finally:
        q.stop()

    be = load_table(spark, sf_dir, "events")
    t = be.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("trigger_id"),
        F.col("ts").alias("t_ts"))
    o = be.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("ok"), F.col("event_id").alias("outcome_id"),
        F.col("ts").alias("o_ts"), "value")
    batch = (t.join(o, (F.col("k") == F.col("ok"))
                    & (F.col("o_ts") >= F.col("t_ts"))
                    & (F.col("o_ts") <= F.col("t_ts") + F.expr("INTERVAL 1 hour")))
             .select(F.col("k").alias("user_id"), "trigger_id", "outcome_id",
                     epoch_seconds("t_ts").cast("bigint").alias("trigger_epoch"),
                     epoch_seconds("o_ts").cast("bigint").alias("outcome_epoch"),
                     fround(F.col("value"), 2).alias("value"))
             .collect())
    assert got == {tuple(r) for r in batch}
    assert len(got) > 0


def test_streaming_quality_filter_equals_batch(spark, sf_dir, tmp_path):
    """The streaming quality gate keeps exactly the rows the batch
    scorer keeps (stateless map-only plan → batch equivalence), and the
    streaming plan carries no state store."""
    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import classifier
    from hybrid_recommendation_system_using_vector_db_spark.streaming import events as SE

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("double").alias("label"))
    w, b = classifier.train_quality_classifier(labeled)

    stream = SE.read_documents_stream(spark, sf_dir)
    kept = SE.streaming_quality_filter(stream, w, b, threshold=0.5)
    q = (kept.select("doc_id").writeStream.format("memory")
         .queryName("qfilter").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM qfilter").collect()}
    want = {r.doc_id for r in
            classifier.quality_classifier_scores(docs, w, b)
            .filter(F.col("prob") >= 0.5).select("doc_id").collect()}
    assert got == want and 0 < len(want) < docs.count()


def test_streaming_lm_maintenance_equals_bulk(spark, tmp_path):
    """Micro-batched KN-LM maintenance converges to the bulk-trained
    model exactly, across a restart that replays a batch (stream
    checkpoint ∘ replay ledger ∘ staged commit = exactly-once folds)."""
    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        streaming_lm_maintenance,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    out = str(tmp_path / "lm")
    ckpt = str(tmp_path / "ckpt")
    # seed the artifact empty-ish: bulk-build over the first slice, then
    # stream the remainder in two files (two-ish micro-batches)
    first = docs.filter(F.col("doc_id") % 4 == 0)
    pipeline.write_kn_lm(spark, first, out)
    docs.filter(F.col("doc_id") % 4 == 1).write.parquet(str(in_dir / "b1.parquet"))
    docs.filter(F.col("doc_id") % 4 > 1).write.parquet(str(in_dir / "b2.parquet"))

    stream = (spark.readStream.schema(docs.schema)
              .option("recursiveFileLookup", "true").parquet(str(in_dir)))
    q = streaming_lm_maintenance(stream, out, ckpt)
    q.awaitTermination(120)
    # restart on the same checkpoint: nothing new -> no state change
    q2 = streaming_lm_maintenance(stream, out, ckpt)
    q2.awaitTermination(120)
    # a FRESH checkpoint replays everything -> the replay ledger no-ops it
    q3 = streaming_lm_maintenance(stream, out, str(tmp_path / "ckpt2"))
    q3.awaitTermination(120)

    bulk = str(tmp_path / "bulk")
    pipeline.write_kn_lm(spark, docs, bulk)
    a = sorted(map(tuple, pipeline.load_kn_lm(spark, out).collect()))
    b = sorted(map(tuple, pipeline.load_kn_lm(spark, bulk).collect()))
    assert a == b and len(a) > 0


def test_streaming_jsonl_gate_equals_batch(spark, tmp_path):
    """The streaming JSONL reader gates each micro-batch with the same
    stateless validity predicate as the batch reader, so the streamed
    output over a directory of shards equals the batch read of the same
    files — corrupt and missing-required lines dropped identically."""
    import gzip as _gzip
    import json

    from hybrid_recommendation_system_using_vector_db_spark.sources import jsonl
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        run_stream_to_memory,
    )

    d = tmp_path / "shards"
    d.mkdir()
    # two shards -> the file source can deliver them across micro-batches
    shard1 = [
        json.dumps({"doc_id": 1, "lang": "en", "source": "web", "text": "one"}),
        '{"doc_id": 2, "text": "trunc',                        # malformed
        json.dumps({"doc_id": 3, "text": "three"}),
    ]
    shard2 = [
        json.dumps({"lang": "de", "source": "web"}),           # missing required
        json.dumps({"doc_id": 5, "lang": "de", "source": "x", "text": "five"}),
    ]
    for name, lines in [("a.jsonl.gz", shard1), ("b.jsonl.gz", shard2)]:
        with _gzip.open(d / name, "wt", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")

    stream = jsonl.read_jsonl_documents_stream(spark, str(d))
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "jsonl_stream", output_mode="append")
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.sql(
            "SELECT doc_id, lang, source, text FROM jsonl_stream").collect()))
    finally:
        q.stop()
    want = sorted(map(tuple,
                      jsonl.read_jsonl_documents(spark, str(d))
                      .select("doc_id", "lang", "source", "text").collect()))
    assert got == want
    assert [r[0] for r in got] == [1, 3, 5]


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """left_outer stream-stream: matched pairs emit like the inner join;
    an unmatched trigger emits its NULL-outcome row only after the
    outcome-side watermark passes trigger.ts + horizon (forced here by a
    far-future sentinel batch); and an out-of-horizon outcome does NOT
    rescue the trigger from the unmatched set."""
    import datetime as dt
    import os

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        stream_stream_attribution,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    src = str(tmp_path / "src")
    os.makedirs(src)

    def t(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    batch1 = [
        (1, t(1, 0), 10, "click", 0.0),
        (2, t(1, 10), 10, "purchase", 5.0),   # matches click 1 (10 min)
        (3, t(2, 0), 11, "click", 0.0),        # never purchases
        (4, t(3, 0), 12, "click", 0.0),
        (5, t(4, 30), 12, "purchase", 9.0),    # 90 min later: OUTSIDE 1h
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    joined = stream_stream_attribution(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        horizon="1 hour", state_watermark="1 hour",
        join_type="left_outer")
    q = (joined.writeStream.format("memory")
         .queryName("outer_attr").outputMode("append").start())
    try:
        q.processAllAvailable()
        # sentinel far-future batch advances BOTH watermarks past every
        # batch-1 join window, flushing the unmatched triggers
        sentinel = [(90, t(20, 0), 99, "click", 0.0),
                    (91, t(20, 0), 99, "purchase", 1.0)]
        spark.createDataFrame(sentinel, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = {(r.user_id, r.trigger_id, r.outcome_id)
                for r in spark.sql("SELECT * FROM outer_attr").collect()}
    finally:
        q.stop()
    assert (10, 1, 2) in rows                 # matched, inner semantics
    assert (11, 3, None) in rows              # unmatched → NULL row
    assert (12, 4, None) in rows              # out-of-horizon ≠ matched
    assert (12, 4, 5) not in rows
    # the matched trigger never also emits an unmatched row
    assert (10, 1, None) not in rows

    # refused join types fail loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="left_outer"):
        stream_stream_attribution(stream, stream, join_type="full_outer")


def test_merge_cdc_batch_order_independent_and_replay_safe(spark, tmp_path):
    """Max-ts CDC folding: (a) folding the same change set in two
    OPPOSITE batch orders yields the same snapshot (the associativity
    that lets any micro-batch split equal the batch MERGE); (b) a
    replayed epoch is a no-op; (c) a tombstone wins over an older
    upsert arriving LATER and the final snapshot hides it."""
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        load_cdc_snapshot,
        merge_cdc_batch,
    )

    b1 = spark.createDataFrame(
        [(1, "a", "U", 0), (2, "b", "U", 0), (2, "B2", "U", 5)],
        "k long, v string, op string, ts int")
    b2 = spark.createDataFrame(
        [(1, "A9", "U", 9), (2, "late", "U", 3), (3, "c", "U", 1),
         (3, None, "D", 7)],
        "k long, v string, op string, ts int")

    def fold(order, path):
        for epoch, b in order:
            merge_cdc_batch(b, path, ["k"], epoch_id=epoch, run_id="r")
        return {(r.k, r.v) for r in
                load_cdc_snapshot(spark, path).collect()}

    s12 = fold([(0, b1), (1, b2)], str(tmp_path / "s12"))
    s21 = fold([(0, b2), (1, b1)], str(tmp_path / "s21"))
    assert s12 == s21 == {(1, "A9"), (2, "B2")}   # 3 tombstoned; late loses
    # replayed epoch: state unchanged
    p = str(tmp_path / "s12")
    merge_cdc_batch(b1, p, ["k"], epoch_id=1, run_id="r")   # replay of 1
    assert {(r.k, r.v) for r in load_cdc_snapshot(spark, p).collect()} == s12
    # fresh run id resets the epoch watermark: a new epoch-0 batch applies
    b3 = spark.createDataFrame([(4, "d", "U", 1)],
                               "k long, v string, op string, ts int")
    merge_cdc_batch(b3, p, ["k"], epoch_id=0, run_id="r2")
    assert (4, "d") in {(r.k, r.v)
                        for r in load_cdc_snapshot(spark, p).collect()}


def test_merge_cdc_batch_tied_winner_raises_and_tiebreak_restores(
        spark, tmp_path):
    """ADVICE r11: the streaming fold enforces per-key ts totality like
    apply_changes — a tied state-vs-batch winner raises loudly instead of
    picking an arbitrary row; an explicit tiebreak_col restores totality;
    and a tie NOT at the winning rank stays legal."""
    import pytest
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        load_cdc_snapshot,
        merge_cdc_batch,
    )

    p = str(tmp_path / "tied")
    b1 = spark.createDataFrame([(1, "a", "U", 5, 10)],
                               "k long, v string, op string, ts int, seq int")
    merge_cdc_batch(b1, p, ["k"], epoch_id=0, run_id="r")
    # same key, same ts, different value → ambiguous winner
    b2 = spark.createDataFrame([(1, "b", "U", 5, 11)],
                               "k long, v string, op string, ts int, seq int")
    with pytest.raises(ValueError, match="not totally ordered"):
        merge_cdc_batch(b2, p, ["k"], epoch_id=1, run_id="r")
    # tiebreak_col restores totality: seq 11 beats seq 10
    merge_cdc_batch(b2, p, ["k"], epoch_id=1, run_id="r", tiebreak_col="seq")
    snap = {(r.k, r.v) for r in
            load_cdc_snapshot(spark, p).drop("seq").collect()}
    assert snap == {(1, "b")}
    # ties BELOW the winning rank are legal (rank 1 is unique)
    b3 = spark.createDataFrame([(1, "c", "U", 9, 12)],
                               "k long, v string, op string, ts int, seq int")
    merge_cdc_batch(b3, p, ["k"], epoch_id=2, run_id="r")
    snap = {(r.k, r.v) for r in
            load_cdc_snapshot(spark, p).drop("seq").collect()}
    assert snap == {(1, "c")}


def test_cdc_snapshot_retention_keeps_previous_version(spark, tmp_path):
    """ADVICE r11: the superseded snapshot dir survives the pointer flip
    (keep_versions=2 default) so a reader that resolved _CURRENT just
    before the flip never races a vanishing directory; the version before
    THAT is vacuumed."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        merge_cdc_batch,
    )

    p = str(tmp_path / "ret")
    for epoch, (v, ts) in enumerate([("a", 1), ("b", 2), ("c", 3)]):
        b = spark.createDataFrame([(1, v, "U", ts)],
                                  "k long, v string, op string, ts int")
        merge_cdc_batch(b, p, ["k"], epoch_id=epoch, run_id="r")
    dirs = sorted(d for d in os.listdir(p) if d.startswith("v"))
    assert dirs == ["v1", "v2"]   # live + previous; v0 vacuumed lazily
    # the retained previous version is a readable snapshot
    assert spark.read.parquet(os.path.join(p, "v1")).count() == 1


def test_streaming_psi_drift_planted_shift_and_emission_cutoff(spark, tmp_path):
    """r13 streaming_psi_drift (chained stateful aggs, append mode):
    (a) emission = exactly the windows whose end <= max(ts) - watermark
    (trailing windows stay in state); (b) windows whose values match
    the reference distribution score ~0 PSI, a planted shifted window
    scores high; (c) the per-window PSI equals an independent python
    computation of the same formula (to the ln/rounding tolerance)."""
    import math
    from datetime import datetime, timedelta

    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        streaming_psi_drift,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    # 5 six-hour windows, 120 events each (one per 3 minutes).
    # windows 0-2 and 4 follow the reference pattern (value cycles
    # bins 0..19 uniformly); window 3 is shifted (all mass in bins
    # 15-19). Window 4 exists so the watermark passes window 3's end
    # and the SHIFTED window actually emits.
    for w in range(5):
        for i in range(120):
            ts = t0 + timedelta(hours=6 * w, minutes=3 * i)
            v = (75.0 + 5.0 * (i % 5) + 2.5 if w == 3
                 else 5.0 * (i % 20) + 2.5)
            rows.append((w * 1000 + i, 1, "click", ts, v))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double")
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src + "/tmpdir")
    # read_events_stream globs 'events.parquet' under the dir
    import glob
    import shutil
    part = glob.glob(src + "/tmpdir/part-*.parquet")[0]
    shutil.move(part, src + "/events.parquet")

    ref_counts = [6] * 20                       # the uniform pattern
    out = streaming_psi_drift(
        read_events_stream(spark, src), ref_counts,
        lo=0.0, hi=100.0, window="6 hours", watermark="2 hours")
    q = run_stream_to_memory(out, "psi_test_mem", output_mode="append")
    q.stop()
    got = {r.w_start: r for r in spark.table("psi_test_mem").collect()}
    # (a) max ts = window4 start + 357min (~29:57); watermark cuts 2h
    # before (~27:57) -> windows 0-3 emitted (ends 6/12/18/24h), the
    # partial window 4 (ends 30h) held back in state.
    base = int(t0.timestamp())
    assert set(got) == {base + 21600 * k for k in range(4)}
    # (b) uniform windows match the reference (~0 PSI); the planted
    # shifted window 3 scores far above the 0.25 "significant" line
    for k in (0, 1, 2):
        r = got[base + 21600 * k]
        assert r.cur_total == 120 and abs(r.psi) < 0.01
    assert got[base + 21600 * 3].psi > 0.5
    # (c) exact python mirror of one window's formula
    alpha, nb, rt = 0.5, 20, sum(ref_counts)
    cur = [6] * 20
    psi = 0.0
    for b in range(nb):
        p = (ref_counts[b] + alpha) / (rt + alpha * nb)
        qq = (cur[b] + alpha) / (120 + alpha * nb)
        psi += math.floor((p - qq) * math.log(p / qq) * 1e6 + 0.5) / 1e6
    psi = math.floor(psi * 1e6 + 0.5) / 1e6
    assert abs(got[base].psi - psi) < 1e-4


def test_merge_manifest_batch_fold_and_replay_idempotent(spark, tmp_path):
    """r13 incremental manifest: folding doc batches one at a time gives
    the SAME state as the one-shot batch manifest (additivity), and an
    at-least-once replay of an already-merged epoch is a no-op."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        shard_manifest,
    )
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        merge_manifest_batch,
        read_edge_state,
    )

    rows = [(i, f"body tok{i % 9} of doc {i}") for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "manifest_state")
    for epoch, lo in enumerate(range(0, 120, 40)):
        b = spark.createDataFrame(rows[lo:lo + 40], "doc_id long, text string")
        merge_manifest_batch(b, state, epoch_id=epoch, run_id="r",
                             n_shards=8)
    want = {r.shard: tuple(r) for r in
            shard_manifest(docs, n_shards=8).collect()}
    got = {r.shard: tuple(r) for r in read_edge_state(spark, state).collect()}
    assert got == want
    # replaying epoch 1 (at-least-once delivery) changes nothing
    b1 = spark.createDataFrame(rows[40:80], "doc_id long, text string")
    merge_manifest_batch(b1, state, epoch_id=1, run_id="r", n_shards=8)
    again = {r.shard: tuple(r) for r in
             read_edge_state(spark, state).collect()}
    assert again == want


def test_versioned_fold_cross_run_vname_collision_safe(spark, tmp_path):
    """r13 review finding: a cleared checkpoint restarts epochs at 0, so
    run B's first merge writes v0 — the SAME directory run A's live
    state occupies — while the fold still lazily reads it. The shared
    protocol names the new snapshot dir away from every existing dir
    (v0 → v0r1), so the write can never delete the directory its own
    plan reads and no pre-restart counts are lost (both for the
    manifest fold and the edge fold)."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        shard_manifest,
    )
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        merge_edge_batch,
        merge_manifest_batch,
        read_edge_state,
    )

    rows = [(i, f"body tok{i % 5} of doc {i}") for i in range(80)]
    docs_a = spark.createDataFrame(rows[:40], "doc_id long, text string")
    docs_b = spark.createDataFrame(rows[40:], "doc_id long, text string")
    state = str(tmp_path / "m_state")
    merge_manifest_batch(docs_a, state, epoch_id=0, run_id="runA", n_shards=4)
    # checkpoint cleared: run B starts its epochs at 0 again
    merge_manifest_batch(docs_b, state, epoch_id=0, run_id="runB", n_shards=4)
    alldocs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {r.shard: tuple(r) for r in
            shard_manifest(alldocs, n_shards=4).collect()}
    got = {r.shard: tuple(r) for r in read_edge_state(spark, state).collect()}
    assert got == want

    edges = str(tmp_path / "e_state")
    ba = spark.createDataFrame([(1, 2)] * 3 + [(2, 3)], "src long, dst long")
    bb = spark.createDataFrame([(1, 2)] * 2 + [(3, 4)], "src long, dst long")
    merge_edge_batch(ba, edges, epoch_id=0, run_id="runA")
    merge_edge_batch(bb, edges, epoch_id=0, run_id="runB")
    got_e = {(r.src, r.dst): r.weight for r in
             read_edge_state(spark, edges).collect()}
    assert got_e == {(1, 2): 5, (2, 3): 1, (3, 4): 1}


def test_incremental_hll_fold_matches_one_shot(spark, tmp_path):
    """r13 incremental_hll: folding per-batch HLL registers through the
    shared versioned-state protocol (MAX monoid) and estimating the
    drained state equals the one-shot hll_distinct, for any split."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
    )
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        merge_hll_batch,
        read_edge_state,
    )

    rows = [(f"g{i % 2}", (i * 7) % 300) for i in range(600)]
    df = spark.createDataFrame(rows, "grp string, v long")
    state = str(tmp_path / "hll_state")
    for epoch in range(3):
        b = spark.createDataFrame(rows[epoch * 200:(epoch + 1) * 200],
                                  "grp string, v long")
        merge_hll_batch(b, state, "grp", "v", p=6, epoch_id=epoch,
                        run_id="r")
    want = {r.grp: r.est_distinct for r in
            hll_distinct(df, "grp", "v", p=6).collect()}
    got = {r.grp: r.est_distinct for r in
           hll_estimate(read_edge_state(spark, state), "grp", p=6).collect()}
    assert got == want


def test_incremental_cms_start_pins_checkpoint_checksums_off(spark, tmp_path):
    """Every incremental fold starts through one helper that disables
    checkpoint-file checksums (their IO thread pools outlive the query):
    a session that had them on has them off once incremental_cms has
    started, and the fold still drains."""
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        incremental_cms,
        read_edge_state,
    )

    conf = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    in_dir = tmp_path / "rows_in"
    in_dir.mkdir()
    spark.createDataFrame([(i % 7,) for i in range(50)], "v long") \
        .write.parquet(str(in_dir / "b1.parquet"))
    stream = (spark.readStream.schema("v long")
              .option("recursiveFileLookup", "true").parquet(str(in_dir)))
    state = str(tmp_path / "cms_state")
    spark.conf.set(conf, "true")
    try:
        q = incremental_cms(stream, state, str(tmp_path / "ckpt"), "v",
                            depth=2, width=16)
        assert spark.conf.get(conf) == "false"
        q.awaitTermination(60)
    finally:
        spark.conf.set(conf, "false")
    assert read_edge_state(spark, state).count() > 0


def test_versioned_fold_crash_between_write_and_flip_preserves_live(
        spark, tmp_path, monkeypatch):
    """r13 review (What's wrong #1): on a cross-run epoch collision, run
    B's first merge must never write INTO run A's live ``v0`` directory
    — otherwise a crash between the snapshot write and the ``_CURRENT``
    flip leaves the pointer targeting a destroyed directory. Simulate
    the crash by failing the pointer flip and assert run A's state is
    still fully readable, then that a retry recovers to the merged
    state."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark.streaming import events as ev

    state = str(tmp_path / "e_state")
    ba = spark.createDataFrame([(1, 2)] * 3 + [(2, 3)], "src long, dst long")
    bb = spark.createDataFrame([(1, 2)] * 2 + [(3, 4)], "src long, dst long")
    ev.merge_edge_batch(ba, state, epoch_id=0, run_id="runA")

    real_replace = os.replace

    def crash_on_flip(src, dst):
        if os.path.basename(dst) == "_CURRENT":
            raise RuntimeError("simulated crash before pointer flip")
        return real_replace(src, dst)

    monkeypatch.setattr(ev.os, "replace", crash_on_flip)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ev.merge_edge_batch(bb, state, epoch_id=0, run_id="runB")
    # the live pointer still resolves run A's INTACT snapshot
    got_a = {(r.src, r.dst): r.weight for r in
             ev.read_edge_state(spark, state).collect()}
    assert got_a == {(1, 2): 3, (2, 3): 1}
    # recovery: the replayed batch lands on a fresh dir and flips cleanly
    monkeypatch.setattr(ev.os, "replace", real_replace)
    ev.merge_edge_batch(bb, state, epoch_id=0, run_id="runB")
    got = {(r.src, r.dst): r.weight for r in
           ev.read_edge_state(spark, state).collect()}
    assert got == {(1, 2): 5, (2, 3): 1, (3, 4): 1}


def test_incremental_cms_fold_matches_one_shot(spark, tmp_path):
    """r14 incremental_cms: folding per-batch CMS cells through the
    shared versioned-state protocol (SUM monoid) equals the one-shot
    cms_cells for any split, replay of a merged epoch is a no-op, and
    the drained state still carries its (depth, width) parameter stamp
    through the parquet snapshots."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.sketches import (
        cms_cells,
        read_state_params,
    )
    from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
        merge_cms_batch,
        read_edge_state,
    )

    rows = [((i * 13) % 97,) for i in range(600)]
    df = spark.createDataFrame(rows, "v long")
    state = str(tmp_path / "cms_state")
    for epoch in range(3):
        b = spark.createDataFrame(rows[epoch * 200:(epoch + 1) * 200],
                                  "v long")
        merge_cms_batch(b, state, "v", depth=3, width=64,
                        epoch_id=epoch, run_id="r")
    want = sorted(map(tuple, cms_cells(df, "v", depth=3,
                                       width=64).collect()))
    got_df = read_edge_state(spark, state)
    assert sorted(map(tuple, got_df.collect())) == want
    assert read_state_params(got_df) == \
        {"what": "cms", "depth": 3, "width": 64}
    # replaying epoch 1 changes nothing
    b1 = spark.createDataFrame(rows[200:400], "v long")
    merge_cms_batch(b1, state, "v", depth=3, width=64,
                    epoch_id=1, run_id="r")
    assert sorted(map(tuple,
                      read_edge_state(spark, state).collect())) == want
