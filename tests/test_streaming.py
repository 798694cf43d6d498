"""Structured Streaming parity: the SAME tumbling aggregation applied
to a readStream source (availableNow → memory sink) must equal the
batch result."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fastmlframework_spark.core.tables import load_table
from fastmlframework_spark.streaming.dedup import read_dedup_index
from fastmlframework_spark.streaming.windows import (
    run_available_now,
    streaming_tumbling_counts,
    tumbling_agg,
)


def test_streaming_tumbling_matches_batch(spark, sf_dir_small, tmp_path):
    events = load_table(spark, sf_dir_small, "events")
    # Re-write with micros timestamps so the stream source needs no
    # nanos handling (the batch loader already normalized ts).
    src = str(tmp_path / "events_stream")
    events.write.mode("overwrite").parquet(src)

    batch = tumbling_agg(spark.read.parquet(src), "1 hour")

    stream_df = (
        spark.readStream.schema(events.schema).parquet(src)
    )
    agg = streaming_tumbling_counts(stream_df, "1 hour", watermark="2 hours")
    run_available_now(agg, "tumbling_test")
    streamed = spark.table("tumbling_test")

    assert streamed.count() == batch.count()
    diff = batch.exceptAll(streamed).count() + streamed.exceptAll(batch).count()
    assert diff == 0


def test_watermark_bounds_state(spark, sf_dir_small, tmp_path):
    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_stream2")
    events.write.mode("overwrite").parquet(src)
    stream_df = spark.readStream.schema(events.schema).parquet(src)
    agg = streaming_tumbling_counts(stream_df, "1 hour", watermark="1 hour")
    run_available_now(agg, "tumbling_wm")
    # single availableNow batch: nothing is late, totals still match
    total_events = events.count()
    got = spark.table("tumbling_wm").agg(F.sum("n")).first()[0]
    assert got == total_events


def test_stateful_running_totals_across_batches(spark, sf_dir_small, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches —
    final running totals == batch groupBy totals.  maxFilesPerTrigger=1
    over multiple files forces multiple batches."""
    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_state")
    # several files -> several micro-batches
    events.repartition(4).write.mode("overwrite").parquet(src)

    from fastmlframework_spark.streaming.stateful import running_user_totals

    stream_df = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_user_totals(stream_df)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink in update mode appends every emitted update; the
    # LAST row per user is the final running total.
    got = (
        spark.table("running_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    expected = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("total_value"),
    )
    assert got.count() == expected.count()
    joined = got.alias("g").join(expected.alias("e"), on="user_id")
    bad = joined.filter(
        (F.col("g.n_events") != F.col("e.n_events"))
        | (F.abs(F.col("g.total_value") - F.col("e.total_value")) > 1e-6)
    )
    assert bad.count() == 0


def test_streaming_sessions_runs(spark, sf_dir_small, tmp_path):
    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_sess")
    events.write.mode("overwrite").parquet(src)

    from fastmlframework_spark.streaming.stateful import streaming_sessions

    stream_df = spark.readStream.schema(events.schema).parquet(src)
    out = streaming_sessions(stream_df, gap="30 minutes", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_stream")
    assert got.count() > 0
    # every session has >= 1 event and end >= start
    assert got.filter("n_events < 1 OR session_end < session_start").count() == 0


def test_streaming_dedup_drops_cross_batch_replays(spark, sf_dir_small, tmp_path):
    """Duplicates planted in DIFFERENT micro-batches must still be
    dropped (keyed state carries across batches within the watermark)."""
    events = load_table(spark, sf_dir_small, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "events_dup")
    # batch 1: original events; batch 2: full replay (same event_ids)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    from fastmlframework_spark.streaming.stateful import streaming_dedup

    stream_df = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_dedup(stream_df, ["event_id"], watermark="48 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    n_unique = events.select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_static_enrich_matches_batch(spark, sf_dir_small, tmp_path):
    """Stream-static broadcast join parity: enriching the event stream
    with a per-user dim must equal the batch join."""
    from fastmlframework_spark.streaming.joins import enrich_stream

    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_enrich")
    events.write.mode("overwrite").parquet(src)
    dim = (
        events.select("user_id").distinct()
        .withColumn("tier", F.col("user_id") % 3)
    )

    batch = spark.read.parquet(src).join(dim, on="user_id")
    stream_df = spark.readStream.schema(events.schema).parquet(src)
    enriched = enrich_stream(stream_df, dim, on="user_id").select(
        "user_id", "event_id", "tier"
    )
    run_available_now_append(enriched, "enrich_test")
    streamed = spark.table("enrich_test")

    assert streamed.count() == batch.count()
    b = batch.select("user_id", "event_id", "tier")
    assert b.exceptAll(streamed).count() + streamed.exceptAll(b).count() == 0


def run_available_now_append(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir_small, tmp_path):
    """Watermarked stream-stream interval join parity with the batch
    join under a single availableNow pass (nothing late)."""
    from fastmlframework_spark.streaming.joins import stream_stream_interval_join

    events = load_table(spark, sf_dir_small, "events")
    # Small per-user slices keep the join fan-out bounded for the test.
    sample = events.filter(F.col("user_id") < 50)
    src = str(tmp_path / "events_ssj")
    sample.write.mode("overwrite").parquet(src)

    left_b = spark.read.parquet(src).filter(F.col("event_type") == "click")
    right_b = spark.read.parquet(src).filter(F.col("event_type") == "purchase")
    batch_n = (
        left_b.alias("l")
        .join(
            right_b.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1800 SECONDS")),
        )
        .count()
    )

    schema = sample.schema
    ls = spark.readStream.schema(schema).parquet(src).filter(
        F.col("event_type") == "click"
    )
    rs = spark.readStream.schema(schema).parquet(src).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_interval_join(
        ls, rs, on="user_id", watermark="24 hours", lower_s=0, upper_s=1800
    ).select("user_id", "event_id", "event_id_r")
    run_available_now_append(joined, "ssj_test")
    assert spark.table("ssj_test").count() == batch_n


def test_foreach_batch_idempotent_sink(spark, sf_dir_small, tmp_path):
    """foreachBatch dynamic-partition-overwrite sink: multi-batch
    drain lands every row exactly once, and re-running the drained
    stream against the same checkpoint adds nothing."""
    from fastmlframework_spark.streaming.joins import write_idempotent_parquet

    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_sink_src")
    events.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "events_sink_out")
    ckpt = str(tmp_path / "events_sink_ckpt")

    def make_stream():
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    write_idempotent_parquet(make_stream(), out, ckpt)
    first = spark.read.parquet(out)
    n_batches = first.select("__batch_id").distinct().count()
    assert n_batches > 1  # maxFilesPerTrigger forced multiple batches
    assert first.count() == events.count()
    assert (
        first.select("event_id").exceptAll(events.select("event_id")).count() == 0
    )

    # Re-run with the same checkpoint: everything already committed.
    write_idempotent_parquet(make_stream(), out, ckpt)
    assert spark.read.parquet(out).count() == events.count()


def test_streaming_seasonal_stats_matches_batch(spark, sf_dir_small, tmp_path):
    """§2.10 seasonal twin (VERDICT r4 #8): the hour-of-day baseline
    stats computed as a running streaming aggregation (availableNow
    drain) must equal both the batch form of the same transformation
    AND the stats columns of the batch seasonal_baseline operator."""
    from fastmlframework_spark.operators.timeseries import seasonal_baseline
    from fastmlframework_spark.streaming.windows import seasonal_stats

    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_seasonal")
    events.write.mode("overwrite").parquet(src)

    batch = seasonal_stats(spark.read.parquet(src))

    stream_df = spark.readStream.schema(events.schema).parquet(src)
    run_available_now(seasonal_stats(stream_df), "seasonal_test")
    streamed = spark.table("seasonal_test")

    assert streamed.count() == batch.count()
    diff = batch.exceptAll(streamed).count() + streamed.exceptAll(batch).count()
    assert diff == 0

    # and the batch operator's stats columns agree (same math inside)
    op = seasonal_baseline(spark.read.parquet(src)).select(
        "event_type", "hour", "n_events", "mean_value", "std_value"
    )
    diff2 = op.exceptAll(streamed).count() + streamed.exceptAll(op).count()
    assert diff2 == 0


def test_streaming_exact_dedup_catches_cross_batch_dups(spark, tmp_path):
    """foreachBatch ingest dedup: a duplicate arriving in a LATER
    micro-batch than its original must drop (the index append between
    triggers is what catches it — no stream state involved), while
    within-batch dups collapse to min key and pre-seeded corpus dups
    never emit."""
    from fastmlframework_spark.streaming.dedup import (
        build_digest_index,
        streaming_exact_dedup,
    )

    corpus = spark.createDataFrame(
        [(100, "already ingested text")], "doc_id long, text string"
    )
    index_dir = str(tmp_path / "index")
    build_digest_index(corpus, index_dir)

    # two parquet files -> two micro-batches (maxFilesPerTrigger=1)
    src = str(tmp_path / "incoming")
    b1 = spark.createDataFrame(
        [
            (1, "novel one"),
            (2, "novel two"),
            (3, "novel two"),               # within-batch dup -> min key 2
            (4, "already ingested text"),   # corpus dup -> dropped
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (5, "novel one"),               # dup of batch-1 doc -> dropped
            (6, "fresh in batch two"),
            (7, None),                      # no content -> dropped
        ],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")
    # the file source orders micro-batches by mtime — pin it so the
    # "later batch" really is later even on coarse filesystem clocks
    import os as _os
    import time as _time

    now = _time.time()
    for d, ts in ((src + "/f1", now - 60), (src + "/f2", now)):
        for root, _dirs, files in _os.walk(d):
            for f in files:
                _os.utime(_os.path.join(root, f), (ts, ts))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = streaming_exact_dedup(
        stream, index_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 6}
    assert rows[2]["n_copies"] == 2
    assert rows[1]["batch_id"] != rows[6]["batch_id"]  # really two triggers
    # the index now contains corpus + all novel digests
    assert read_dedup_index(spark, index_dir).distinct().count() == 4


def test_streaming_near_dedup_catches_cross_batch_near_dups(spark, tmp_path):
    """Near-dup streaming screen: an 80%-truncated copy of a batch-1
    document arriving in batch 2 must collide through the index
    append; genuinely novel text reports 0 matches and extends the
    index."""
    from fastmlframework_spark.extensions.dedup import minhash_band_index
    from fastmlframework_spark.streaming.dedup import streaming_near_dedup

    base_text = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "far across the wide open field toward the distant river bank"
    )
    corpus = spark.createDataFrame(
        [(100, base_text)], "doc_id long, text string"
    )
    index_dir = str(tmp_path / "bindex")
    minhash_band_index(corpus).write.mode("overwrite").parquet(index_dir)

    src = str(tmp_path / "nincoming")
    novel = "completely different subject matter about spark physical plans"
    b1 = spark.createDataFrame([(1, novel)], "doc_id long, text string")
    trunc = base_text[: int(len(base_text) * 0.8)]
    novel_trunc = novel[: int(len(novel) * 0.8)]
    b2 = spark.createDataFrame(
        [(2, trunc), (3, novel_trunc), (4, "fresh unrelated short words")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")
    import os as _os
    import time as _time

    now = _time.time()
    for d, ts in ((src + "/f1", now - 60), (src + "/f2", now)):
        for root, _dirs, files in _os.walk(d):
            for f in files:
                _os.utime(_os.path.join(root, f), (ts, ts))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = streaming_near_dedup(
        stream, index_dir, str(tmp_path / "nout"), str(tmp_path / "nckpt")
    )
    q.awaitTermination()

    out = {r["doc_id"]: r for r in
           spark.read.parquet(str(tmp_path / "nout")).collect()}
    assert out[1]["n_corpus_matches"] == 0          # novel vs corpus
    assert out[2]["n_corpus_matches"] >= 1          # 80% copy of corpus doc
    assert out[3]["n_corpus_matches"] >= 1          # 80% copy of batch-1 doc
    assert out[1]["batch_id"] < out[3]["batch_id"]  # caught ACROSS batches


def test_streaming_ingest_example_end_to_end(spark, sf_dir_small, tmp_path):
    """The runnable streaming-ingest example: every drop-2 replay is
    dropped by the exact screen (cross-batch via index append) and
    flagged by the near screen; the seasonal baseline drains."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    from run_streaming_ingest import run

    s = run(spark, sf_dir_small, str(tmp_path / "ingest"))
    assert s["novel_emitted"] * 2 == s["incoming_rows"]
    assert s["cross_batch_dups_dropped"] == s["novel_emitted"]
    assert s["near_flagged"] >= s["cross_batch_dups_dropped"]
    assert s["seasonal_cells"] > 0


def test_streaming_near_dedup_within_batch_self_probe(spark, tmp_path):
    """Two near-copies arriving in the SAME micro-batch collapse to
    the min key (exact-path symmetry): the smaller key is novel and
    indexed, the larger reports n_batch_matches >= 1 and adds no
    band rows to the index."""
    from fastmlframework_spark.extensions.dedup import minhash_band_index
    from fastmlframework_spark.streaming.dedup import streaming_near_dedup

    corpus = spark.createDataFrame(
        [(100, "entirely unrelated seed corpus content about rivers")],
        "doc_id long, text string",
    )
    index_dir = str(tmp_path / "bindex")
    minhash_band_index(corpus).write.mode("overwrite").parquet(index_dir)
    n_index_before = read_dedup_index(spark, index_dir).count()

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "far across the wide open field toward the distant river bank"
    )
    batch = spark.createDataFrame(
        [(7, base), (8, base[: int(len(base) * 0.8)]),
         (9, "completely different subject matter about physical plans")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "wb_incoming")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = streaming_near_dedup(
        stream, index_dir, str(tmp_path / "wbout"), str(tmp_path / "wbckpt")
    )
    q.awaitTermination()

    out = {r["doc_id"]: r for r in
           spark.read.parquet(str(tmp_path / "wbout")).collect()}
    assert out[7]["n_batch_matches"] == 0      # min key is canonical
    assert out[8]["n_batch_matches"] >= 1      # within-batch near-dup
    assert out[9]["n_batch_matches"] == 0      # unrelated text
    assert out[7]["n_corpus_matches"] == 0 and out[8]["n_corpus_matches"] == 0
    # index grew by exactly the two novel docs' band rows (7 and 9),
    # not the within-batch duplicate's
    idx = read_dedup_index(spark, index_dir)
    assert idx.count() == n_index_before + 2 * 4  # bands=4 per novel doc


@pytest.mark.parametrize("arrow_batch", [None, 7])
def test_streaming_cusum_matches_batch_across_batches(
    spark, sf_dir_small, tmp_path, arrow_batch
):
    """Drain ts-ordered micro-batches through the stateful CUSUM and
    the per-row detector values must equal the batch loop-form cusum
    over the whole table bit-for-bit — state genuinely carries S
    across batch boundaries (a detector that resets per batch fails
    on every row after the first file).

    The ``arrow_batch=7`` variant forces every key's micro-batch rows
    to arrive as MANY shuffle-ordered Arrow chunks: a chunk-local sort
    (instead of one concat+sort per key per batch) processes rows out
    of global time order and diverges here."""
    import os
    import time

    from fastmlframework_spark.operators.timeseries import cusum
    from fastmlframework_spark.streaming.stateful import streaming_cusum

    events = load_table(spark, sf_dir_small, "events").filter(
        F.col("value").isNotNull()
    )
    # three ts-range files, mtimes forced increasing so the file
    # source triggers them in timestamp order
    qs = events.approxQuantile("event_id", [0.33, 0.66], 0.0)
    src = str(tmp_path / "events_cusum")
    parts = [
        events.filter(F.col("event_id") <= qs[0]),
        events.filter(
            (F.col("event_id") > qs[0]) & (F.col("event_id") <= qs[1])
        ),
        events.filter(F.col("event_id") > qs[1]),
    ]
    # ts-range split would interleave keys unevenly; event_id split is
    # fine because ts is monotone in event_id in the fixture — assert
    # that premise rather than silently depending on it
    from pyspark.sql import Window as W

    mono = events.withColumn(
        "__pts", F.lag("ts").over(W.orderBy("event_id"))
    ).filter(F.col("__pts") > F.col("ts"))
    assert mono.count() == 0, "fixture premise: ts monotone in event_id"
    now = time.time()
    for i, p in enumerate(parts):
        d = os.path.join(src, f"b{i}")
        p.coalesce(1).write.mode("overwrite").parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))

    stream_df = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key, None)
    if arrow_batch is not None:
        spark.conf.set(conf_key, str(arrow_batch))
    try:
        q = (
            streaming_cusum(stream_df)
            .writeStream.format("memory")
            .queryName("cusum_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if arrow_batch is not None and prev is not None:
            spark.conf.set(conf_key, prev)
        elif arrow_batch is not None:
            spark.conf.unset(conf_key)
    got = spark.table("cusum_stream")
    expected = cusum(events)
    assert got.count() == expected.count()
    joined = got.alias("g").join(
        expected.alias("e"), on="event_id", how="full"
    )
    bad = joined.filter(
        F.col("g.cusum").isNull()
        | F.col("e.cusum").isNull()
        | (F.col("g.cusum") != F.col("e.cusum"))
        | (F.col("g.alarm") != F.col("e.alarm"))
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_streaming_cusum_schema_follows_column_names(spark):
    """Non-default key/id columns must come back under THEIR names
    (and native types), not hardcoded event_id/event_type labels."""
    from fastmlframework_spark.streaming.stateful import _cusum_schema

    df = spark.createDataFrame(
        [("s1", "m", 1.0, 0.5)], "sensor string, metric string, t double, value double"
    )
    sch = _cusum_schema(df.schema, id_col="sensor", key_col="metric")
    assert [f.name for f in sch.fields] == ["sensor", "metric", "cusum", "alarm"]
    assert sch["sensor"].dataType.simpleString() == "string"


def test_streaming_quality_gate_matches_batch(spark, sf_dir_small, tmp_path):
    """The streamed Gopher gate is stateless: the union of per-batch
    survivors must equal the batch battery's pass set over the same
    corpus, and the stats rows must account for every input row."""
    import pyspark.sql.functions as F

    from fastmlframework_spark.extensions.filtering import gopher_rule_flags
    from fastmlframework_spark.streaming.quality import (
        streaming_quality_gate,
    )

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet")
    src = str(tmp_path / "in")
    docs.repartition(4).write.parquet(src)
    q = streaming_quality_gate(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "out"),
        str(tmp_path / "stats"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r.doc_id
        for r in gopher_rule_flags(docs).filter(F.col("passes")).collect()
    }
    assert got == want and 0 < len(got) < docs.count()

    stats = spark.read.parquet(str(tmp_path / "stats"))
    agg = stats.agg(F.sum("n_in").alias("i"), F.sum("n_pass").alias("p")).first()
    assert agg.i == docs.count() and agg.p == len(got)
    assert stats.count() > 1  # several triggers actually ran


def test_streaming_exact_dedup_restart_from_checkpoint(spark, tmp_path):
    """Durability across a stream RESTART (VERDICT r7 durability
    theme): drain batch 0 with one query, stop, then start a brand-new
    query instance on the SAME checkpoint/index/out after batch-1
    files arrive.  The checkpoint must skip the already-committed
    batch-0 files (no re-emission — exactly-once per input file), and
    the PERSISTED index must drop a batch-1 duplicate of batch-0
    content across the restart boundary — the property that makes the
    parquet index, not query state, the recovery point."""
    from fastmlframework_spark.streaming.dedup import (
        build_digest_index,
        streaming_exact_dedup,
    )

    schema = "doc_id long, text string"
    index_dir = str(tmp_path / "index")
    build_digest_index(
        spark.createDataFrame([], schema), index_dir
    )
    src = str(tmp_path / "incoming")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    b0 = spark.createDataFrame(
        [(1, "first run text"), (2, "second text")], schema
    )
    b0.coalesce(1).write.parquet(src + "/b0")

    def make_query():
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        return streaming_exact_dedup(stream, index_dir, out, ckpt)

    q = make_query()
    q.awaitTermination()
    first = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert first == {1, 2}

    # New files land AFTER the first query fully drained and stopped.
    b1 = spark.createDataFrame(
        [
            (10, "first run text"),   # dup of pre-restart content -> drop
            (11, "post restart novel"),
        ],
        schema,
    )
    b1.coalesce(1).write.parquet(src + "/b1")

    q2 = make_query()  # brand-new query instance, same checkpoint
    q2.awaitTermination()

    final = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in final.collect()}
    # exactly-once: batch-0 docs appear ONCE despite the restart; the
    # cross-restart duplicate is gone; only the novel doc was added
    assert sorted(rows) == [1, 2, 11]
    assert final.count() == 3
    # the index converged to the distinct content set
    assert read_dedup_index(spark, index_dir).distinct().count() == 3


def test_streaming_near_dedup_restart_from_checkpoint(spark, tmp_path):
    """Near-dedup twin of the exact-dedup restart contract (VERDICT r8
    #5): drain batch 0, stop, start a BRAND-NEW query instance on the
    same checkpoint/index/out after batch-1 files land.  The
    checkpoint must skip the committed batch-0 files (each doc_id
    reported exactly once — no re-emission), and an 80%-overlap
    near-copy of pre-restart content must collide through the
    PERSISTED band index across the restart boundary — the parquet
    index, not query state, is the recovery point."""
    from fastmlframework_spark.extensions.dedup import minhash_band_index
    from fastmlframework_spark.streaming.dedup import streaming_near_dedup

    schema = "doc_id long, text string"
    base_text = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "far across the wide open field toward the distant river bank"
    )
    index_dir = str(tmp_path / "bindex")
    minhash_band_index(
        spark.createDataFrame([], schema)
    ).write.mode("overwrite").parquet(index_dir)
    src = str(tmp_path / "incoming")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    b0 = spark.createDataFrame(
        [
            (1, base_text),
            (2, "separate seed subject matter about catalyst optimizers"),
        ],
        schema,
    )
    b0.coalesce(1).write.parquet(src + "/b0")

    def make_query():
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        return streaming_near_dedup(stream, index_dir, out, ckpt)

    q = make_query()
    q.awaitTermination()
    first = spark.read.parquet(out)
    assert {r["doc_id"] for r in first.collect()} == {1, 2}
    assert first.count() == 2
    n_index_after_b0 = read_dedup_index(spark, index_dir).count()

    # New files land AFTER the first query fully drained and stopped.
    trunc = base_text[: int(len(base_text) * 0.8)]
    b1 = spark.createDataFrame(
        [
            (10, trunc),  # near-copy of pre-restart content
            (11, "post restart genuinely novel text about parquet files"),
        ],
        schema,
    )
    b1.coalesce(1).write.parquet(src + "/b1")

    q2 = make_query()  # brand-new query instance, same checkpoint
    q2.awaitTermination()

    final = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in final.collect()}
    # exactly-once: batch-0 decisions appear ONCE despite the restart
    assert sorted(rows) == [1, 2, 10, 11]
    assert final.count() == 4
    # the near-copy collided through the index ACROSS the restart
    assert rows[10]["n_corpus_matches"] >= 1
    assert rows[11]["n_corpus_matches"] == 0
    # only the novel doc extended the index (near-copy adds no bands)
    n_index_final = read_dedup_index(spark, index_dir).count()
    assert n_index_after_b0 < n_index_final
    idx = read_dedup_index(spark, index_dir)
    assert idx.filter(F.col("doc_id") == 10).count() == 0
    assert idx.filter(F.col("doc_id") == 11).count() > 0


def test_streaming_quality_gate_restart_from_checkpoint(
    spark, sf_dir_small, tmp_path
):
    """Quality-gate twin of the restart contract (VERDICT r8 #5): the
    Gopher gate is stateless, so exactly-once is purely the
    checkpoint's file-tracking promise — a new query instance on the
    same checkpoint must NOT re-emit batch-0 survivors or double-count
    batch-0 stats, and must process only the files that landed after
    the first drain."""
    from fastmlframework_spark.extensions.filtering import gopher_rule_flags
    from fastmlframework_spark.streaming.quality import streaming_quality_gate

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet")
    half0 = docs.filter(F.col("doc_id") % 2 == 0)
    half1 = docs.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "in")
    out, stats_dir = str(tmp_path / "out"), str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    half0.coalesce(2).write.parquet(src)

    def make_query():
        return streaming_quality_gate(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            stats_dir,
            ckpt,
        )

    q = make_query()
    q.awaitTermination()
    n_out_b0 = spark.read.parquet(out).count()
    n_in_b0 = (
        spark.read.parquet(stats_dir).agg(F.sum("n_in").alias("i")).first().i
    )
    assert n_in_b0 == half0.count()

    half1.coalesce(2).write.parquet(src, mode="append")
    q2 = make_query()  # brand-new query instance, same checkpoint
    q2.awaitTermination()

    got = spark.read.parquet(out)
    want = {
        r.doc_id
        for r in gopher_rule_flags(docs).filter(F.col("passes")).collect()
    }
    # exactly-once: survivor set matches the batch battery over the
    # FULL corpus with no duplicate rows from batch-0 re-processing
    assert {r.doc_id for r in got.collect()} == want
    assert got.count() == len(want)
    assert got.count() > n_out_b0  # restart actually added survivors
    stats = spark.read.parquet(stats_dir)
    agg = stats.agg(F.sum("n_in").alias("i"), F.sum("n_pass").alias("p")).first()
    assert agg.i == docs.count() and agg.p == len(want)


def test_streaming_decontamination_gate_matches_batch(
    spark, sf_dir_small, tmp_path
):
    """The streamed Bloom gate is stateless given its immutable
    filter: admitted ∪ quarantined must partition the input, the
    admit set must equal the batch probe's decisions (micro-batch
    boundaries change nothing), and no planted eval-source doc may be
    admitted at max_hit_ratio=0."""
    import pyspark.sql.functions as F

    from fastmlframework_spark.extensions.curation import (
        bloom_probe_stats,
        ngram_bloom_filter,
    )
    from fastmlframework_spark.streaming.quality import (
        decontamination_admitted_dir,
        decontamination_quarantined_dir,
        streaming_decontamination_gate,
    )

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet").select(
        "doc_id", "text"
    )
    evals = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.expr(
            "substring(text, CAST(FLOOR(LENGTH(text) * 0.3) AS INT) + 1,"
            " CAST(FLOOR(LENGTH(text) * 0.4) AS INT))"
        ).alias("text")
    )
    bloom = ngram_bloom_filter(evals, n=5, num_bits=8192, num_hashes=5)

    src = str(tmp_path / "in")
    docs.repartition(4).write.parquet(src)
    gate = str(tmp_path / "gate")
    q = streaming_decontamination_gate(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        bloom,
        gate,
        str(tmp_path / "stats"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    admitted = {
        r.doc_id
        for r in spark.read.parquet(
            decontamination_admitted_dir(gate)
        ).collect()
    }
    quarantined = {
        r.doc_id
        for r in spark.read.parquet(
            decontamination_quarantined_dir(gate)
        ).collect()
    }
    all_ids = {r.doc_id for r in docs.collect()}
    assert admitted | quarantined == all_ids
    assert not admitted & quarantined

    batch = bloom_probe_stats(docs, bloom)
    want_admitted = all_ids - {
        r.doc_id for r in batch.filter(F.col("hit_ratio") > 0).collect()
    }
    assert admitted == want_admitted
    # one-sided error: every planted source shares its excerpt's
    # interior shingles, so long sources must be quarantined
    planted_long = {
        r.doc_id
        for r in batch.filter(
            (F.col("doc_id") % 37 == 0) & (F.col("n_shingles") >= 25)
        ).collect()
    }
    assert planted_long and planted_long <= quarantined

    stats = spark.read.parquet(str(tmp_path / "stats"))
    agg = stats.agg(
        F.sum("n_in").alias("i"),
        F.sum("n_admitted").alias("a"),
        F.sum("n_quarantined").alias("q"),
    ).first()
    assert (agg.i, agg.a, agg.q) == (
        len(all_ids), len(admitted), len(quarantined)
    )
    assert stats.count() > 1


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """The streamed PII scrub is stateless: the union of all batch
    outputs must equal the batch operator's masked text byte-for-byte
    regardless of micro-batch boundaries, and the stats feed must sum
    to the batch counts."""
    import pyspark.sql.functions as F

    from fastmlframework_spark.extensions.curation import pii_scrub
    from fastmlframework_spark.streaming.quality import (
        streaming_pii_scrub,
    )

    schema = "doc_id long, text string"
    rows = [
        (1, "mail a.b@x.io and c@d.org now"),
        (2, "call 555-123-4567 from 10.0.0.1"),
        (3, "no pii in this one"),
        (4, "ip 192.168.1.9 mail z@q.net phone 800 555 1212"),
        (5, "plain words again"),
        (6, "another e@f.gh at 1.2.3.4"),
    ]
    docs = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "in")
    docs.repartition(3).write.parquet(src)

    q = streaming_pii_scrub(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "out"),
        str(tmp_path / "stats"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r["doc_id"]: r["clean_text"] for r in pii_scrub(docs).collect()
    }
    assert got == want
    assert "[EMAIL]" in got[1] and "[PHONE]" in got[2] and "[IPV4]" in got[6]
    assert got[3] == "no pii in this one" and got[5] == "plain words again"

    stats = spark.read.parquet(str(tmp_path / "stats"))
    agg = stats.agg(
        F.sum("n_rows").alias("r"),
        F.sum("n_email").alias("e"),
        F.sum("n_phone").alias("p"),
        F.sum("n_ipv4").alias("i"),
        F.sum("n_pii_docs").alias("d"),
    ).first()
    assert (agg.r, agg.e, agg.p, agg.i, agg.d) == (6, 4, 2, 3, 4)
    assert stats.count() > 1  # genuinely multiple micro-batches


def test_decontamination_scored_plan_is_map_only(spark, sf_dir_small):
    """The gate's per-trigger scoring plan (the exact DataFrame the
    foreachBatch sink filters) must contain ZERO Exchange nodes on the
    batch side — no key self-join, no shuffle, one scan of the batch
    behind the one-row broadcast filter.  This is the test bench.py's
    stream entry exists to back: a shuffle sneaking into this plan is
    a per-trigger regression at any scale."""
    import pyspark.sql.functions as F

    from fastmlframework_spark.extensions.curation import ngram_bloom_filter
    from fastmlframework_spark.streaming.quality import (
        _decontamination_scored,
    )

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet").select(
        "doc_id", "text"
    )
    evals = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    bloom = ngram_bloom_filter(evals, n=5, num_bits=8192, num_hashes=5)
    # localize the filter exactly as the gate does at stream start
    bl = spark.createDataFrame([bloom.first()], bloom.schema)
    scored = _decontamination_scored(docs, bl, "text", 0.0)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    bcast = next(i for i, l in enumerate(lines) if "BroadcastExchange" in l)
    batch_side = lines[:bcast]
    assert not any("Exchange" in l for l in batch_side), (
        "per-trigger batch side must be shuffle-free:\n"
        + "\n".join(batch_side)
    )
    assert not any("Join" in l and "BroadcastNestedLoop" not in l
                   for l in lines), plan
    # and duplicate keys must NOT multiply rows (the old self-join bug)
    dup = docs.limit(5).union(docs.limit(5))
    out = _decontamination_scored(dup, bl, "text", 0.0)
    assert out.count() == 10


def test_streaming_decontamination_restart_from_checkpoint(spark, tmp_path):
    """Exactly-once per input file across a stream RESTART: a new
    query on the same checkpoint must skip committed batch-0 files
    (no re-emission) while gating newly-arrived batch-1 files with
    the same immutable filter."""
    import pyspark.sql.functions as F

    from fastmlframework_spark.extensions.curation import ngram_bloom_filter
    from fastmlframework_spark.streaming.quality import (
        streaming_decontamination_gate,
    )

    schema = "doc_id long, text string"
    evals = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta")], schema
    ).select("text")
    bloom = ngram_bloom_filter(evals, n=3, num_bits=4096, num_hashes=4)

    from fastmlframework_spark.streaming.quality import (
        decontamination_admitted_dir,
        decontamination_quarantined_dir,
    )

    src = str(tmp_path / "incoming")
    gate, stats, ckpt = (
        str(tmp_path / d) for d in ("gate", "stats", "ckpt")
    )
    out = decontamination_admitted_dir(gate)
    quar = decontamination_quarantined_dir(gate)
    clean = "completely unrelated words here now indeed"
    dirty = "alpha beta gamma delta epsilon zeta eta tail"
    spark.createDataFrame([(1, clean)], schema).coalesce(1).write.parquet(
        src + "/b0"
    )

    def make_query():
        return streaming_decontamination_gate(
            spark.readStream.schema(
                spark.read.parquet(src + "/b0").schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*"),
            bloom,
            gate,
            stats,
            ckpt,
        )

    make_query().awaitTermination()
    assert spark.read.parquet(out).count() == 1

    spark.createDataFrame(
        [(2, dirty), (3, clean + " again")], schema
    ).coalesce(1).write.parquet(src + "/b1")
    make_query().awaitTermination()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 3]  # doc 1 NOT re-emitted; dirty doc 2 quarantined
    assert [r.doc_id for r in spark.read.parquet(quar).collect()] == [2]


# ---------------------------------------------------------------------------
# Retry-replay exactly-once contract (VERDICT r11 #1): every gate sink
# must produce byte-identical output when a micro-batch crashes AFTER
# its data writes but BEFORE the checkpoint commit, and is replayed by
# a restarted query.  The `after_write_hook` seam raises exactly in
# that window; the crash run's final artifacts are compared row-for-row
# (including the __batch_id partition values) against a clean run over
# the SAME source files.
# ---------------------------------------------------------------------------


class _PlantedCrash(Exception):
    pass


def _crash_once_on(batch_id: int):
    state = {"armed": True}

    def hook(bid: int) -> None:
        if state["armed"] and bid == batch_id:
            state["armed"] = False
            raise _PlantedCrash(
                "crash planted after sink writes, before checkpoint commit"
            )

    return hook


def _drain_with_replay(make_query, hook) -> None:
    """First drain dies at the planted crash (the batch's writes are
    already durable, its checkpoint commit is not); the second drain
    is a brand-new query instance on the same checkpoint, so the
    crashed batch REPLAYS through the sinks."""
    q = make_query(hook)
    try:
        q.awaitTermination()
        raise AssertionError("planted crash did not fire")
    except Exception as e:  # StreamingQueryException wrapping _PlantedCrash
        assert "planted" in str(e) or "_PlantedCrash" in str(e)
    make_query(None).awaitTermination()


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def test_quality_gate_retry_replay_exactly_once(
    spark, sf_dir_small, tmp_path
):
    from fastmlframework_spark.streaming.quality import streaming_quality_gate

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet")
    src = str(tmp_path / "in")
    docs.limit(30).repartition(3).write.parquet(src)
    schema = docs.schema

    def run(tag, hook):
        out = str(tmp_path / f"out_{tag}")
        stats = str(tmp_path / f"stats_{tag}")

        def make_query(h):
            return streaming_quality_gate(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                out,
                stats,
                str(tmp_path / f"ckpt_{tag}"),
                after_write_hook=h,
            )

        if hook is None:
            make_query(None).awaitTermination()
        else:
            _drain_with_replay(make_query, hook)
        return _rows(spark, out), _rows(spark, stats)

    ref = run("clean", None)
    got = run("crash", _crash_once_on(1))
    assert got == ref  # byte-identical rows, no duplicates


def test_pii_scrub_retry_replay_exactly_once(spark, tmp_path):
    from fastmlframework_spark.streaming.quality import streaming_pii_scrub

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [
            (1, "mail a.b@x.io now"),
            (2, "call 555-123-4567"),
            (3, "no pii here"),
            (4, "ip 10.0.0.1 mail z@q.net"),
        ],
        schema,
    )
    src = str(tmp_path / "in")
    docs.repartition(3).write.parquet(src)

    def run(tag, hook):
        out = str(tmp_path / f"out_{tag}")
        stats = str(tmp_path / f"stats_{tag}")

        def make_query(h):
            return streaming_pii_scrub(
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                out,
                stats,
                str(tmp_path / f"ckpt_{tag}"),
                after_write_hook=h,
            )

        if hook is None:
            make_query(None).awaitTermination()
        else:
            _drain_with_replay(make_query, hook)
        return _rows(spark, out), _rows(spark, stats)

    ref = run("clean", None)
    got = run("crash", _crash_once_on(1))
    assert got == ref


def test_decontamination_gate_retry_replay_exactly_once(
    spark, sf_dir_small, tmp_path
):
    from fastmlframework_spark.extensions.curation import ngram_bloom_filter
    from fastmlframework_spark.streaming.quality import (
        streaming_decontamination_gate,
    )

    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet").select(
        "doc_id", "text"
    )
    evals = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.expr("substring(text, 5, 120)").alias("text")
    )
    bloom = ngram_bloom_filter(evals, n=5, num_bits=8192, num_hashes=5)
    src = str(tmp_path / "in")
    docs.limit(40).repartition(3).write.parquet(src)
    schema = docs.schema

    from fastmlframework_spark.streaming.quality import (
        decontamination_admitted_dir,
        decontamination_quarantined_dir,
    )

    def run(tag, hook):
        gate = str(tmp_path / f"gate_{tag}")
        stats = str(tmp_path / f"stats_{tag}")

        def make_query(h):
            return streaming_decontamination_gate(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                bloom,
                gate,
                stats,
                str(tmp_path / f"ckpt_{tag}"),
                after_write_hook=h,
            )

        if hook is None:
            make_query(None).awaitTermination()
        else:
            _drain_with_replay(make_query, hook)
        return (
            _rows(spark, decontamination_admitted_dir(gate)),
            _rows(spark, decontamination_quarantined_dir(gate)),
            _rows(spark, stats),
        )

    ref = run("clean", None)
    got = run("crash", _crash_once_on(1))
    assert got == ref


def test_exact_dedup_retry_replay_exactly_once(spark, tmp_path):
    from fastmlframework_spark.streaming.dedup import (
        build_digest_index,
        streaming_exact_dedup,
    )

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [
            (1, "alpha content"),
            (2, "beta content"),
            (3, "alpha content"),  # dup of 1 (cross-batch or within)
            (4, "gamma content"),
        ],
        schema,
    )
    src = str(tmp_path / "in")
    docs.repartition(3).write.parquet(src)

    def run(tag, hook):
        index_dir = str(tmp_path / f"index_{tag}")
        build_digest_index(spark.createDataFrame([], schema), index_dir)
        out = str(tmp_path / f"out_{tag}")

        def make_query(h):
            return streaming_exact_dedup(
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                index_dir,
                out,
                str(tmp_path / f"ckpt_{tag}"),
                after_write_hook=h,
            )

        if hook is None:
            make_query(None).awaitTermination()
        else:
            _drain_with_replay(make_query, hook)
        idx = sorted(
            r.digest
            for r in read_dedup_index(spark, index_dir).collect()
        )
        return _rows(spark, out), idx

    ref = run("clean", None)
    got = run("crash", _crash_once_on(1))
    # output rows byte-identical AND the index did not grow dup rows
    assert got == ref


def test_near_dedup_retry_replay_exactly_once(spark, tmp_path):
    from fastmlframework_spark.extensions.dedup import minhash_band_index
    from fastmlframework_spark.streaming.dedup import streaming_near_dedup

    schema = "doc_id long, text string"
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "far across the wide open field toward the distant river bank"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "separate seed subject matter about catalyst optimizers"),
            (3, base[: int(len(base) * 0.8)]),  # near-copy of 1
            (4, "fresh unrelated short words"),
        ],
        schema,
    )
    src = str(tmp_path / "in")
    docs.repartition(3).write.parquet(src)

    def run(tag, hook):
        index_dir = str(tmp_path / f"bindex_{tag}")
        minhash_band_index(
            spark.createDataFrame([], schema)
        ).write.mode("overwrite").parquet(index_dir)
        out = str(tmp_path / f"out_{tag}")

        def make_query(h):
            return streaming_near_dedup(
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                index_dir,
                out,
                str(tmp_path / f"ckpt_{tag}"),
                after_write_hook=h,
            )

        if hook is None:
            make_query(None).awaitTermination()
        else:
            _drain_with_replay(make_query, hook)
        index = read_dedup_index(spark, index_dir)
        idx = sorted(
            tuple(r[c] for c in sorted(index.columns))
            for r in index.collect()
        )
        return _rows(spark, out), idx

    ref = run("clean", None)
    got = run("crash", _crash_once_on(1))
    assert got == ref


def test_index_probe_anchored_to_root_not_bare_batch_segment(
    spark, tmp_path
):
    """ADVICE r12: an index ROOTED under a path that itself contains a
    literal ``batch_<N>`` segment must not have legitimate committed
    files dropped from the probe — the self-contribution exclusion is
    anchored to ``<index_dir>/batch_<id>/``, not any ``/batch_<id>/``
    substring."""
    from fastmlframework_spark.streaming.dedup import (
        _index_batch_dir,
        _index_for_batch,
        build_digest_index,
    )

    # the index root deliberately contains a 'batch_1' path segment
    index_dir = str(tmp_path / "batch_1" / "index")
    schema = "doc_id long, text string"
    base = spark.createDataFrame([(1, "seed content")], schema)
    build_digest_index(base, index_dir)
    # a committed prior contribution from batch 0
    spark.createDataFrame([("digest-from-batch-0",)], "digest string") \
        .write.parquet(_index_batch_dir(index_dir, 0))

    probe = _index_for_batch(spark, index_dir, batch_id=1)
    # both the seed digest and batch 0's digest must be visible
    assert probe.count() == 2
    # and batch 1's own contribution is still excluded
    spark.createDataFrame([("self-digest",)], "digest string") \
        .write.parquet(_index_batch_dir(index_dir, 1))
    assert _index_for_batch(spark, index_dir, batch_id=1).count() == 2


def test_state_partition_override_is_session_isolated(
    spark, sf_dir_small, tmp_path
):
    """VERDICT r13 #6: the state_partitions conf override applied
    around a stream drain must not be observable by batch work planned
    concurrently on the main session.  A drain with state_partitions=3
    runs on a newSession() clone in a worker thread (exactly how
    streaming/bench.py scopes it) while the main thread polls the
    parent session's shuffle-partition conf and runs a threaded-CV-
    style aggregate; the parent conf must never move."""
    import threading
    import time

    from fastmlframework_spark.streaming.windows import seasonal_stats

    events = load_table(spark, sf_dir_small, "events")
    src = str(tmp_path / "events_iso")
    events.repartition(4).write.mode("overwrite").parquet(src)

    key = "spark.sql.shuffle.partitions"
    parent_before = spark.conf.get(key)
    iso = spark.newSession()
    seen: list[str] = []
    err: list[BaseException] = []
    observed = threading.Event()

    def drain():
        try:
            stream_df = (
                iso.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            run_available_now(
                seasonal_stats(stream_df), "iso_test", state_partitions=3
            )
        except BaseException as exc:  # surfaced below
            err.append(exc)
        finally:
            # the thread cannot finish before the main thread's first
            # observation, however fast the drain runs
            observed.wait(timeout=300)

    t = threading.Thread(target=drain)
    t.start()
    # Concurrent batch work on the PARENT session while the drain
    # holds its override: poll the conf and run a real aggregate.
    try:
        while t.is_alive():
            seen.append(spark.conf.get(key))
            observed.set()
            spark.range(100).groupBy((F.col("id") % 5).alias("g")).count().collect()
            time.sleep(0.01)
    finally:
        observed.set()
    t.join(timeout=300)
    assert not t.is_alive(), "drain thread did not finish"
    assert not err, err
    assert seen, "drain finished before any concurrent observation"
    assert set(seen) == {parent_before}
    assert spark.conf.get(key) == parent_before
    # the override really took effect on the isolated session's drain
    assert iso.table("iso_test").count() > 0
