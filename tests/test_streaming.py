"""Streaming operator tests — batch/stream parity + a real micro-batch run."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.streaming import events as ev


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    from metrique_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "events")


def test_tumbling_counts_batch(batch_events):
    out = ev.tumbling_counts(batch_events, "1 hour")
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r["n"] for r in rows)
    assert total == batch_events.count()


def test_session_stats_batch(batch_events):
    out = ev.session_stats(batch_events, "30 minutes")
    assert out.count() > 0
    # sessions never overlap per user: end_i <= start_{i+1}
    w = out.orderBy("user_id", "session_start").collect()
    by_user = {}
    for r in w:
        by_user.setdefault(r["user_id"], []).append(r)
    for sess in by_user.values():
        for a, b in zip(sess, sess[1:]):
            assert a["session_end"] <= b["session_start"]


def test_user_running_totals_batch(batch_events):
    out = ev.user_running_totals(batch_events)
    n_users = batch_events.select("user_id").distinct().count()
    assert out.count() == n_users


def test_streaming_micro_batch(spark, sf_dir, tmp_path):
    """Real readStream → windowed agg → memory sink round trip."""
    import shutil

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0.parquet")
    stream = ev.read_events_stream(spark, str(src_dir))
    assert stream.isStreaming
    agg = ev.tumbling_counts(stream, "1 hour")
    q = (
        agg.writeStream.format("memory").queryName("tc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; all but the last
    # 2h of event-time should be present
    got = spark.sql("select sum(n) as s from tc").first()["s"]
    assert got is not None and got > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics across micro-batches: after the watermark
    advances past an event-time window, a late event for that window is
    DROPPED from the append-mode aggregation (it is present in the input
    and in batch mode, absent from the streaming output)."""
    import os
    import time

    src_dir = tmp_path / "late_src"
    src_dir.mkdir()

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, "
                  "value double, props string")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next(p for p in os.listdir(tmp_path / name)
                    if p.endswith(".parquet"))
        os.rename(tmp_path / name / part, src_dir / f"{name}.parquet")

    def ns(hour, minute=0):
        t = time.mktime((2024, 1, 1, hour, minute, 0, 0, 0, 0)) - time.timezone
        return int(t) * 1_000_000_000

    def run_until_drained():
        # separate availableNow runs over one checkpoint: the watermark is
        # recovered from the commit log, so batch boundaries (and the
        # late-row filter) are deterministic regardless of file batching
        stream = ev.read_events_stream(spark, str(src_dir))
        agg = ev.tumbling_counts(stream, "1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "late_out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: on-time events at 10:xx-12:00 -> watermark lands at 10:00
    write_batch("b1", [(1, ns(10, 15), 1, "click", 1.0, None),
                       (2, ns(11, 45), 2, "click", 1.0, None),
                       (3, ns(12, 0), 3, "click", 1.0, None)])
    run_until_drained()
    # run 2: one event at 20:00 (advances the watermark to 18:00, closing
    # the 10:00/11:00 windows) and one LATE event at 00:30 (window far
    # below the 10:00 watermark from run 1 -> must be dropped)
    write_batch("b2", [(4, ns(20, 0), 4, "click", 1.0, None),
                       (5, ns(0, 30), 5, "late", 1.0, None)])
    run_until_drained()
    got = {r["window_start"].hour: r["n"]
           for r in spark.read.parquet(str(tmp_path / "late_out")).collect()}
    assert 10 in got and 11 in got  # closed on-time windows emitted
    assert 0 not in got  # the late event's window never appears
    # same op in batch mode keeps the late row — the drop is watermarking,
    # not the aggregation
    batch_df = spark.read.parquet(str(src_dir)).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")))
    batch_hours = {r["window_start"].hour
                   for r in ev.tumbling_counts(batch_df, "1 hour").collect()}
    assert 0 in batch_hours


def test_stream_upsert_sink(spark, sf_dir, tmp_path):
    """readStream → foreachBatch → Engine temporal upsert: streaming ingest
    of versioned objects lands in the warehouse with snapshot semantics."""
    import shutil

    from pyspark.sql import functions as F

    from metrique_spark.engine import Engine

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0.parquet")
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))

    stream = ev.read_events_stream(spark, str(src_dir))
    objs = stream.select(
        F.col("user_id").alias("_oid"),
        "event_type",
        F.col("ts").alias("_start"),
    )

    def sink(batch_df, batch_id):
        if not batch_df.isEmpty():
            eng.upsert("user_state", batch_df)

    q = (
        objs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    n_users = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id").distinct().count()
    # one open version per user (last-write-wins within the batch)
    assert eng.count("user_state", date=None) == n_users
    assert eng.count("user_state", date="~") >= n_users


def test_stream_upsert_sink_replayed_batch_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between sink completion and
    checkpoint commit re-delivers the SAME (batch_df, batch_id) on
    restart. The temporal snapshot upsert must converge under that replay
    — no double-closed versions, identical table state."""
    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp
    from metrique_spark.streaming.events import stream_upsert_sink

    def batch(val, ts):
        df = spark.createDataFrame(
            [(i, val) for i in range(1, 6)], "k long, val string")
        return stamp(df, oid="k", start=F.to_timestamp(F.lit(ts)))

    def table_state(eng):
        return sorted(
            (r["_oid"], r["val"], r["_start"], r["_end"])
            for r in eng.table("cube").collect())

    b1 = batch("a", "2024-01-01 00:00:00")
    b2 = batch("b", "2024-02-01 00:00:00")

    # oracle: each batch delivered exactly once
    oracle = Engine(spark, warehouse=str(tmp_path / "wh_once"))
    sink_once = stream_upsert_sink(oracle, "cube", str(tmp_path / "ck0"))
    sink_once(b1, 0)
    sink_once(b2, 1)
    expected = table_state(oracle)
    # 5 closed (val a) + 5 open (val b)
    assert len(expected) == 10

    # replayed: batch 1 delivered twice (crash before commit), then batch
    # 2 delivered twice
    replayed = Engine(spark, warehouse=str(tmp_path / "wh_twice"))
    sink_twice = stream_upsert_sink(replayed, "cube", str(tmp_path / "ck1"))
    sink_twice(b1, 0)
    sink_twice(b1, 0)   # replay of an unchanged snapshot: pure no-op
    sink_twice(b2, 1)
    sink_twice(b2, 1)   # replay after versions closed: must not re-close
    assert table_state(replayed) == expected


def test_stream_upsert_sink_kill_restart_continuation(spark, sf_dir, tmp_path):
    """Kill/restart over one checkpoint: a first availableNow run ingests
    file 1, the query stops (the 'kill'), a second file lands, and a
    restarted query resumes from the checkpoint — the final warehouse
    state must equal the one-shot batch upsert of both files."""
    import shutil

    from metrique_spark.engine import Engine
    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()

    events = load_table(spark, sf_dir, "events")

    def run(eng):
        stream = ev.read_events_stream(spark, str(src_dir))
        objs = stream.select(
            F.col("user_id").alias("_oid"), "event_type",
            F.col("ts").alias("_start"))

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                eng.upsert("user_state", batch_df)

        q = (objs.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    half = events.where(F.col("event_id") % 2 == 0)
    rest = events.where(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.parquet(str(tmp_path / "h1"))
    shutil.copy(next((tmp_path / "h1").glob("*.parquet")),
                src_dir / "f1.parquet")
    run(eng)            # run 1 ingests file 1, then terminates
    n_after_1 = eng.count("user_state", date="~")
    rest.coalesce(1).write.parquet(str(tmp_path / "h2"))
    shutil.copy(next((tmp_path / "h2").glob("*.parquet")),
                src_dir / "f2.parquet")
    run(eng)            # restart: same checkpoint picks up only file 2
    assert eng.count("user_state", date="~") >= n_after_1

    # batch oracle: same two batches through the same upsert path
    oracle = Engine(spark, warehouse=str(tmp_path / "wh_oracle"))
    for part in (half, rest):
        objs = part.select(F.col("user_id").alias("_oid"), "event_type",
                           F.col("ts").alias("_start"))
        oracle.upsert("user_state", objs)
    got = sorted((r["_oid"], r["event_type"], r["_start"], r["_end"])
                 for r in eng.table("user_state").collect())
    want = sorted((r["_oid"], r["event_type"], r["_start"], r["_end"])
                  for r in oracle.table("user_state").collect())
    assert got == want


def test_dedup_stream_replayed_file(spark, sf_dir, tmp_path):
    """At-least-once delivery simulated by dropping the same events file
    twice into the source dir: the deduped stream must emit each event_id
    exactly once; the raw stream emits it twice. Batch mode falls back to
    dropDuplicates."""
    import shutil

    src_dir = tmp_path / "events_dup"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "b.parquet")

    stream = ev.read_events_stream(spark, str(src_dir))
    deduped = ev.dedup_stream(stream, keys=("event_id",), watermark="10 days")
    q = (
        deduped.writeStream.format("memory").queryName("dd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_unique = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = spark.sql("select count(*) n, count(distinct event_id) d from dd").first()
    assert got["n"] == got["d"] == n_unique

    # batch fallback: same call, plain DataFrame
    batch = spark.read.parquet(str(src_dir))
    assert batch.count() == 2 * n_unique
    assert ev.dedup_stream(batch, keys=("event_id",)).count() == n_unique


def test_correlate_events_stream_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join: the streaming result over the full
    (availableNow) input must equal the batch self-join twin."""
    import shutil

    src_dir = tmp_path / "events_corr"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")

    batch = ev.correlate_events(
        spark.read.parquet(str(src_dir)), within="30 minutes")
    n_batch = batch.count()
    assert n_batch > 0
    # streaming twin — huge watermark so no full-input pair is dropped
    stream = ev.read_events_stream(spark, str(src_dir))
    q = (
        ev.correlate_events(stream, within="30 minutes", watermark="400 days")
        .writeStream.format("memory").queryName("corr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_corr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "select count(*) n, count(distinct click_id || '-' || purchase_id) d"
        " from corr").first()
    assert got["n"] == got["d"] == n_batch


@pytest.mark.parametrize("backend", ["local", "objectstore"])
def test_stream_dedup_sink_flags_and_replay(spark, tmp_path, backend):
    """Continuous-ingest dedup: batches flag against the base corpus AND
    earlier batches, accepted docs join the index, and a replayed batch
    (at-least-once foreachBatch) is a no-op. Runs against BOTH
    control-plane backends: the objectstore run proves the sink's commit
    root protocol never needs POSIX rename/O_EXCL."""
    from metrique_spark.fs import LocalFS, ObjectStoreFS
    from metrique_spark.functions.dedup import read_minhash_index
    from metrique_spark.streaming.events import stream_dedup_sink

    idx_p = str(tmp_path / "idx")
    cor_p = str(tmp_path / "cor")
    flg_p = str(tmp_path / "flg")
    fs = ObjectStoreFS() if backend == "objectstore" else LocalFS()
    # within-batch dedup off: this test pins the INDEX-probe/replay
    # machinery, and its batch-0 docs are intentionally mutual near-dups
    sink = stream_dedup_sink(
        idx_p, cor_p, flg_p, threshold=0.8, dedup_within_batch=False,
        fs=fs)

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    b0 = mk([(i, f"{base_text} variant number {i}") for i in range(10)])
    sink(b0, 0)
    # batch 0 had no index yet: everything accepted
    assert spark.read.parquet(cor_p).count() == 10
    assert spark.read.parquet(flg_p).count() == 0

    # batch 1: one near-dup of a BASE doc, one novel doc
    b1 = mk([(100, f"{base_text} variant number 3"),   # dup of doc 3
             (101, "completely different content about databases here")])
    sink(b1, 1)
    flags = {r["doc_id"]: r["dup_of"]
             for r in spark.read.parquet(flg_p).collect()}
    assert flags == {100: 3}
    assert spark.read.parquet(cor_p).count() == 11  # 10 + novel 101

    # batch 2: near-dup of an EARLIER BATCH's accepted doc (101)
    b2 = mk([(200, "completely different content about databases here"),
             (201, "yet another unrelated snippet of text entirely")])
    sink(b2, 2)
    flags = {r["doc_id"]: r["dup_of"]
             for r in spark.read.parquet(flg_p).collect()}
    assert flags == {100: 3, 200: 101}
    assert spark.read.parquet(cor_p).count() == 12

    # replay batch 2 (crash before checkpoint commit): identical state
    sink(b2, 2)
    flags2 = {r["doc_id"]: r["dup_of"]
              for r in spark.read.parquet(flg_p).collect()}
    assert flags2 == flags
    assert spark.read.parquet(cor_p).count() == 12
    # the committed index holds signatures for every ACCEPTED doc
    # (10 + 101 + 201), signed with the sink's params
    idx = read_minhash_index(spark, idx_p, fs=fs)
    assert idx.select("id").distinct().count() == 12
    assert idx._minhash_params == {"num_hashes": 64, "bands": 16,
                                   "shingle_n": 3}


def test_stream_dedup_sink_param_mismatch_errors(spark, tmp_path):
    from metrique_spark.streaming.events import stream_dedup_sink

    idx_p = str(tmp_path / "idx2")
    sink = stream_dedup_sink(idx_p, str(tmp_path / "c2"),
                             str(tmp_path / "f2"))
    df = spark.createDataFrame(
        [(1, "some document text for the stream here")],
        "doc_id long, text string")
    sink(df, 0)
    other = stream_dedup_sink(idx_p, str(tmp_path / "c2"),
                              str(tmp_path / "f2"), num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="signed with"):
        other(spark.createDataFrame(
            [(2, "more text that will never get probed safely")],
            "doc_id long, text string"), 1)


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_write_minhash_index_refuses_a_sink_index(spark, tmp_path, mode):
    """A stream_dedup_sink's ``index_path`` is readable as a MinHash
    index, but only the sink writes it: ``write_minhash_index`` would
    drop the sink's fold state and name a part with no corpus twin."""
    import os

    from metrique_spark.functions import dedup
    from metrique_spark.streaming.events import stream_dedup_sink

    idx_p = str(tmp_path / "idx")
    sink = stream_dedup_sink(idx_p, str(tmp_path / "c"),
                             str(tmp_path / "f"))
    docs = spark.createDataFrame(
        [(1, "some document text for the stream here")],
        "doc_id long, text string")
    sink(docs, 0)
    before = sorted(os.listdir(idx_p))
    root = open(os.path.join(idx_p, "_minhash.json")).read()
    with pytest.raises(ValueError, match="stream_dedup_sink"):
        dedup.write_minhash_index(dedup.minhash_index(docs), idx_p,
                                  mode=mode)
    assert sorted(os.listdir(idx_p)) == before
    assert open(os.path.join(idx_p, "_minhash.json")).read() == root
    # the sink goes on committing on top of its untouched state
    sink(spark.createDataFrame(
        [(2, "an unrelated second document of other words")],
        "doc_id long, text string"), 1)
    assert dedup.read_minhash_index(spark, idx_p).select(
        "id").distinct().count() == 2


def test_stream_dedup_sink_end_to_end_filestream(spark, tmp_path):
    """Real Structured Streaming wiring: a file-source stream drives
    stream_dedup_sink through foreachBatch with availableNow triggers and
    one checkpoint across a stop/restart — new files dedup against
    everything accepted before them."""
    from metrique_spark.streaming.events import stream_dedup_sink

    src = tmp_path / "docs_src"
    src.mkdir()
    idx_p, cor_p, flg_p = (str(tmp_path / d) for d in ("i", "c", "f"))
    ck = str(tmp_path / "ck")
    sink = stream_dedup_sink(idx_p, cor_p, flg_p, threshold=0.8,
                             dedup_within_batch=False)
    base = "the quick brown fox jumps over the lazy dog once more today"

    def run_stream():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(str(src)))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    import shutil

    def land(rows, name):
        tmp = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(str(tmp))
        shutil.copy(next(tmp.glob("*.parquet")), src / name)

    land([(i, f"{base} variant {i}") for i in range(8)], "f1.parquet")
    run_stream()
    assert spark.read.parquet(cor_p).count() == 8

    # second file lands AFTER the first query stopped; the restarted
    # query resumes from the checkpoint and sees only the new file
    land([(100, f"{base} variant 5"),     # near-dup of accepted doc 5
          (101, "entirely different material about query planners")],
         "f2.parquet")
    run_stream()
    flags = {r["doc_id"]: r["dup_of"]
             for r in spark.read.parquet(flg_p).collect()}
    assert flags == {100: 5}
    assert spark.read.parquet(cor_p).count() == 9
    assert spark.read.parquet(idx_p).select("id").distinct().count() == 9


def test_funnel_strict_ordering(spark):
    import datetime as dt

    from metrique_spark.streaming.events import funnel

    base = dt.datetime(2024, 1, 1)

    def ev(i, u, t_off, et):
        return (i, base + dt.timedelta(minutes=t_off), u, et, 1.0, "")

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, 0, "view"), ev(2, 1, 5, "click"), ev(3, 1, 9, "purchase"),
        # user 2: purchase BEFORE click -> converts only 2 stages
        ev(4, 2, 0, "view"), ev(5, 2, 3, "purchase"), ev(6, 2, 7, "click"),
        # user 3: click before any view -> only stage 1 (its later view
        # has no subsequent click)
        ev(7, 3, 0, "click"), ev(8, 3, 2, "view"),
        # user 4: never viewed
        ev(9, 4, 1, "click"), ev(10, 4, 2, "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r["step"]: (r["step_idx"], r["n_users"])
           for r in funnel(events).collect()}
    assert got == {"view": (1, 3), "click": (2, 2), "purchase": (3, 1)}


def test_retention_cohorts_offsets(spark):
    import datetime as dt

    from metrique_spark.streaming.events import retention_cohorts

    mon = dt.datetime(2024, 1, 1)   # a Monday (week start)

    def ev(i, u, days):
        return (i, mon + dt.timedelta(days=days), u, "view", 1.0, "")

    rows = [
        ev(1, 1, 0), ev(2, 1, 8),            # user1: week0 + week1
        ev(3, 2, 1), ev(4, 2, 2),            # user2: twice in week0
        ev(5, 3, 7), ev(6, 3, 21),           # user3: cohort week1, back wk3
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {(r["cohort"], r["period_offset"]): r["n_users"]
           for r in retention_cohorts(events).collect()}
    wk0, wk1 = mon, mon + dt.timedelta(days=7)
    assert got == {(wk0, 0): 2, (wk0, 1): 1, (wk1, 0): 1, (wk1, 2): 1}


def test_stream_dedup_sink_within_batch(spark, tmp_path):
    """A batch containing near-identical docs accepts only the cluster's
    canonical (min-id) member; the rest are flagged with their cluster
    head and strongest verified link. Corpus flags still take priority."""
    from metrique_spark.streaming.events import stream_dedup_sink

    sink = stream_dedup_sink(str(tmp_path / "i"), str(tmp_path / "c"),
                             str(tmp_path / "f"), threshold=0.8)
    base = "the quick brown fox jumps over the lazy dog again today"
    b0 = spark.createDataFrame(
        [(1, f"{base} variant one"),
         (2, f"{base} variant one"),       # exact twin of 1 in SAME batch
         (3, "a completely different document about engines")],
        "doc_id long, text string")
    sink(b0, 0)
    flags = {r["doc_id"]: (r["dup_of"], r["jaccard"])
             for r in spark.read.parquet(str(tmp_path / "f")).collect()}
    assert flags == {2: (1, 1.0)}
    accepted = {r["doc_id"]
                for r in spark.read.parquet(str(tmp_path / "c")).collect()}
    assert accepted == {1, 3}
    # next batch: dup of corpus doc 1 AND of a batch-mate -> corpus wins
    b1 = spark.createDataFrame(
        [(10, f"{base} variant one"),
         (11, "another unique snippet entirely its own")],
        "doc_id long, text string")
    sink(b1, 1)
    flags = {r["doc_id"]: r["dup_of"]
             for r in spark.read.parquet(str(tmp_path / "f")).collect()}
    assert flags == {2: 1, 10: 1}
    assert spark.read.parquet(str(tmp_path / "c")).count() == 3  # +11


def test_error_rate_anomalies_flags_spike(spark):
    import datetime as dt

    from metrique_spark.streaming.events import error_rate_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 8 hourly windows: steady 10% error rate, then a 60% spike in the last
    for h in range(8):
        n_err = 6 if h == 7 else 1
        for i in range(10):
            eid += 1
            rows.append((eid, base + dt.timedelta(hours=h, minutes=i),
                         1, "error" if i < n_err else "view", 1.0, ""))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r["window_start"]: r for r in
           error_rate_anomalies(events, lookback=6, z=2.0).collect()}
    spike = got[base + dt.timedelta(hours=7)]
    # zero-variance baseline: no z-score, but the flat-spike rule flags
    assert spike["is_anomaly"]
    assert spike["zscore"] is None
    # steady windows with a full trailing frame but zero variance carry
    # NULL zscore (sd=0) and never flag
    mid = got[base + dt.timedelta(hours=6)]
    assert not mid["is_anomaly"]
    # warm-up windows (incomplete frame) never flag
    assert not got[base]["is_anomaly"]


def test_stream_dedup_sink_identical_cluster_beyond_lsh_cap(spark, tmp_path):
    """A bit-identical cluster LARGER than the LSH hot-bucket cap must
    still collapse to one accepted copy: the exact fingerprint pass runs
    before the capped LSH, so the cap (which drops every band bucket of
    such a cluster) cannot let the copies sail through."""
    from metrique_spark.streaming.events import stream_dedup_sink

    sink = stream_dedup_sink(str(tmp_path / "i"), str(tmp_path / "c"),
                             str(tmp_path / "f"), threshold=0.8,
                             max_band_bucket=10)
    same = "identical boilerplate page crawled many many times over again"
    b = spark.createDataFrame(
        [(i, same) for i in range(30)]
        + [(100, "one genuinely unique document in the batch here")],
        "doc_id long, text string")
    sink(b, 0)
    flags = {r["doc_id"]: (r["dup_of"], r["jaccard"]) for r in
             spark.read.parquet(str(tmp_path / "f")).collect()}
    assert set(flags) == set(range(1, 30))
    assert all(v == (0, 1.0) for v in flags.values())
    accepted = {r["doc_id"] for r in
                spark.read.parquet(str(tmp_path / "c")).collect()}
    assert accepted == {0, 100}


def test_stream_dedup_sink_exact_target_remapped_to_canonical(spark, tmp_path):
    """An exact twin whose keeper is ITSELF flagged as a near-dup must be
    remapped to the cluster's accepted canonical — dup_of always resolves
    against the corpus."""
    from metrique_spark.streaming.events import stream_dedup_sink

    sink = stream_dedup_sink(str(tmp_path / "i"), str(tmp_path / "c"),
                             str(tmp_path / "f"), threshold=0.8)
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "variant number")
    b = spark.createDataFrame(
        [(3, f"{base} three"),
         (5, f"{base} five"),          # near-dup of 3 (one token differs)
         (9, f"{base} five")],         # bit-identical to 5
        "doc_id long, text string")
    sink(b, 0)
    flags = {r["doc_id"]: r["dup_of"] for r in
             spark.read.parquet(str(tmp_path / "f")).collect()}
    accepted = {r["doc_id"] for r in
                spark.read.parquet(str(tmp_path / "c")).collect()}
    assert accepted == {3}
    # 9's exact keeper (5) was near-dup-flagged to 3 -> remapped
    assert flags == {5: 3, 9: 3}


def test_stream_anomaly_sink_equals_batch_and_replay(spark, sf_dir, tmp_path):
    """The continuous anomaly detector over the full (availableNow)
    input must equal the batch detector row-for-row, with events split
    across micro-batches (partial window counts summing across batches),
    and a replayed micro-batch must not double-count."""
    import shutil

    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_anom"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")

    events = load_table(spark, str(src_dir), "a")
    expect = sorted(
        (str(r["window_start"]), r["n"], r["n_errors"], r["rate"],
         r["zscore"], r["is_anomaly"])
        for r in ev.error_rate_anomalies(events).collect())
    assert any(r[5] for r in expect) or len(expect) > 0

    state_p = str(tmp_path / "anom_state")
    out_p = str(tmp_path / "anom_out")
    sink = ev.stream_anomaly_sink(state_p, out_p)
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_anom"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(
        (str(r["window_start"]), r["n"], r["n_errors"], r["rate"],
         r["zscore"], r["is_anomaly"])
        for r in spark.read.parquet(out_p).collect())
    assert got == expect

    # at-least-once replay: re-running a batch's partial overwrites its
    # own directory, totals unchanged
    sink(events, 0)
    again = sorted(
        (str(r["window_start"]), r["n"], r["n_errors"], r["rate"],
         r["zscore"], r["is_anomaly"])
        for r in spark.read.parquet(out_p).collect())
    assert again == expect


def test_stream_anomaly_sink_partials_sum_across_batches(spark, tmp_path):
    """Micro-batches that SPLIT a time window must sum into one window
    row (the additive-partial contract), and late events re-flag
    history on the next refresh."""
    state_p = str(tmp_path / "st")
    out_p = str(tmp_path / "out")
    sink = ev.stream_anomaly_sink(state_p, out_p, window="1 hour",
                                  lookback=2, z=1.0)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts string,"
                  " event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp"))

    h = "2024-01-01 {:02d}:{:02d}:00"
    # batch 0: three quiet hours, plus HALF of hour 3's errors
    b0 = mk([(i, 1, h.format(hr, 5), "ok") for i, hr in
             enumerate([0, 0, 0, 1, 1, 1, 2, 2, 2])]
            + [(100, 1, h.format(3, 10), "error")])
    sink(b0, 0)
    # batch 1: the rest of hour 3 (late-ish data for the same window)
    b1 = mk([(101, 1, h.format(3, 40), "error"),
             (102, 1, h.format(3, 50), "ok")])
    sink(b1, 1)
    rows = {str(r["window_start"]): r
            for r in spark.read.parquet(out_p).collect()}
    w3 = rows["2024-01-01 03:00:00"]
    assert (w3["n"], w3["n_errors"]) == (3, 2)   # summed across batches
    assert w3["is_anomaly"]                       # flat-spike over 0-rate


def test_stream_anomaly_sink_state_compaction(spark, tmp_path):
    """Generational state compaction: once committed partials exceed
    compact_after they fold into a gen dir, the sidecar flips
    atomically, superseded dirs are swept — and totals stay exactly
    right through it all, including a replay of the RUNNING batch (the
    only id foreachBatch can ever re-deliver)."""
    import json
    import os

    state_p = str(tmp_path / "st")
    out_p = str(tmp_path / "out")
    sink = ev.stream_anomaly_sink(state_p, out_p, window="1 hour",
                                  lookback=2, z=1.0, compact_after=2)

    def mk(eid, hr, minute, et):
        return spark.createDataFrame(
            [(eid, 1, f"2024-01-01 {hr:02d}:{minute:02d}:00", et)],
            "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    for b in range(5):   # one event per hour-window per batch
        sink(mk(b, b, 5, "ok"), b)
    # compaction happened: the root names a level and only the batches
    # above the fold, and the folded batch dirs are gone
    dirs = sorted(d for d in os.listdir(state_p) if d.startswith("batch="))
    parts = json.load(open(os.path.join(state_p, "_state.json")))["parts"]
    assert any(p.startswith("batch=gen") for p in parts)
    assert "batch=0" not in parts and "batch=4" in parts
    assert dirs == sorted(parts)
    # totals exact: 5 windows, one event each
    rows = {str(r["window_start"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert len(rows) == 5 and all(n == 1 for n in rows.values())
    # replay of the RUNNING batch (4): overwrites its own partial,
    # totals unchanged
    sink(mk(4, 4, 5, "ok"), 4)
    rows = {str(r["window_start"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert len(rows) == 5 and all(n == 1 for n in rows.values())
    # late batch adds to an OLD (already compacted) window: sums fine
    sink(mk(99, 0, 45, "error"), 5)
    rows = {str(r["window_start"]): (r["n"], r["n_errors"])
            for r in spark.read.parquet(out_p).collect()}
    assert rows["2024-01-01 00:00:00"] == (2, 1)


def test_event_transitions_hand_computed(spark):
    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts string,"
                  " event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp"))

    # user 1: view -> click -> view -> purchase; user 2: view -> click
    e = mk([(1, 1, "2024-01-01 00:00:00", "view"),
            (2, 1, "2024-01-01 00:01:00", "click"),
            (3, 1, "2024-01-01 00:02:00", "view"),
            (4, 1, "2024-01-01 00:03:00", "purchase"),
            (5, 2, "2024-01-01 00:00:30", "view"),
            (6, 2, "2024-01-01 00:00:45", "click")])
    got = {(r["from_type"], r["to_type"]): (r["n"], r["prob"])
           for r in ev.event_transitions(e).collect()}
    assert got == {
        ("view", "click"): (2, round(2 / 3, 4)),
        ("view", "purchase"): (1, round(1 / 3, 4)),
        ("click", "view"): (1, 1.0),
    }
    # tie on ts breaks by event_id: two same-ts events order 7 then 8
    tied = mk([(7, 3, "2024-01-01 01:00:00", "a"),
               (8, 3, "2024-01-01 01:00:00", "b")])
    got2 = {(r["from_type"], r["to_type"])
            for r in ev.event_transitions(tied).collect()}
    assert got2 == {("a", "b")}


def test_stream_dedup_sink_index_compaction(spark, tmp_path):
    """Generational index/corpus compaction: committed batch dirs fold
    into gen dirs, probes keep flagging dups of FOLDED docs (the gen dir
    carries their signatures AND their text for verification), the
    replay skip-check still works, and flags/corpus stay exact."""
    import os

    from metrique_spark.streaming.events import stream_dedup_sink

    idx_p = str(tmp_path / "i")
    cor_p = str(tmp_path / "c")
    flg_p = str(tmp_path / "f")
    sink = stream_dedup_sink(idx_p, cor_p, flg_p, threshold=0.8,
                             dedup_within_batch=False, compact_after=1)

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = "the quick brown fox jumps over the lazy dog again and again"
    sink(mk([(i, f"{base} variant {i}") for i in range(5)]), 0)
    sink(mk([(10, "entirely different content about engines here")]), 1)
    sink(mk([(20, "another unrelated snippet of text entirely")]), 2)
    # by now batches 0,1 folded into gen dirs (compact_after=1)
    idirs = sorted(d for d in os.listdir(idx_p) if d.startswith("batch="))
    assert any(d.startswith("batch=gen") for d in idirs)
    assert "batch=0" not in idirs and "batch=1" not in idirs
    cdirs = sorted(d for d in os.listdir(cor_p) if d.startswith("batch="))
    assert any(d.startswith("batch=gen") for d in cdirs)
    # a dup of a FOLDED doc (batch 0's doc 3) is still caught
    sink(mk([(30, f"{base} variant 3"),
             (31, "fresh novel content nothing matches this")]), 3)
    flags = {r["doc_id"]: r["dup_of"]
             for r in spark.read.parquet(flg_p).collect()}
    assert flags == {30: 3}
    # corpus holds every accepted doc across gens + live dirs
    assert (spark.read.parquet(cor_p).select("doc_id").distinct().count()
            == 8)  # 5 + 10 + 20 + 31
    # replay of a committed batch is still a no-op (its dir is live)
    sink(mk([(30, f"{base} variant 3"), (31, "x")]), 3)
    flags2 = {r["doc_id"]: r["dup_of"]
              for r in spark.read.parquet(flg_p).collect()}
    assert flags2 == flags


def test_tiered_levels_coexist_and_promote(spark, tmp_path):
    """The generational fold is size-tiered: with every level counted
    'large' (level_bytes=1), folds ACCUMULATE level dirs instead of
    rewriting all prior state (the root's ``parts`` name them), totals
    stay exact across multiple coexisting levels, and a 4th
    similar-sized level promotes the group into one."""
    import json
    import os

    state_p = str(tmp_path / "st")
    out_p = str(tmp_path / "out")
    sink = ev._partial_state_sink(
        state_p, out_p,
        partial_fn=lambda b: ev._event_window_counts(
            b, "1 hour", "error", "ts", "event_type"),
        fold_fn=lambda df: (df.groupBy("window_start")
                            .agg(F.sum("n").cast("long").alias("n"),
                                 F.sum("n_errors").cast("long")
                                 .alias("n_errors"))),
        finalize_fn=lambda t: t,
        compact_after=1, level_bytes=1)  # every level is 'large'

    def mk(eid, hr):
        return spark.createDataFrame(
            [(eid, 1, f"2024-01-01 {hr:02d}:05:00", "ok")],
            "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def levels():
        parts = json.loads(open(os.path.join(state_p, "_state.json"))
                           .read())["parts"]
        return sorted(p for p in parts if p.startswith("batch=gen"))

    def gen_dirs():
        return sorted(d for d in os.listdir(state_p)
                      if d.startswith("batch=gen"))

    for b in range(6):
        sink(mk(b, b), b)
    # multiple levels coexist (no all-state rewrite), the root names them
    assert len(levels()) >= 2
    assert levels() == gen_dirs()
    rows = {str(r["window_start"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert len(rows) == 6 and all(n == 1 for n in rows.values())
    # drive folds until a 4-level similar-size group promotes: the
    # level count must stay bounded (< 4 + the freshest level)
    for b in range(6, 14):
        sink(mk(b, b), b)
    assert len(levels()) <= 4  # promotion fired at quorum
    assert levels() == gen_dirs()  # merged levels dropped by name
    rows = {str(r["window_start"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert len(rows) == 14 and all(n == 1 for n in rows.values())


def test_gen_sweep_removes_stale_dirs_from_crashed_prior_sweep(spark,
                                                               tmp_path):
    """A crash between a fold's root publish and its drops strands the
    folded dirs; readers never see them (the root does not name them),
    and the next fold's vacuum removes every directory the root does
    not name, so the listing does not grow forever."""
    import json
    import os
    import shutil

    state_p = str(tmp_path / "st")
    sink = ev.stream_anomaly_sink(state_p, str(tmp_path / "out"),
                                  compact_after=1)

    def mk(b):
        return spark.createDataFrame(
            [(b, 1, f"2024-01-01 {b:02d}:05:00", "ok")],
            "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    for b in range(3):
        sink(mk(b), b)
    parts = json.load(open(os.path.join(state_p, "_state.json")))["parts"]
    # what a crash before the drops would have left behind
    for stale in ("batch=0", "batch=1", "batch=gen0"):
        shutil.copytree(os.path.join(state_p, parts[0]),
                        os.path.join(state_p, stale))
    for b in range(3, 5):
        sink(mk(b), b)
    parts = json.load(open(os.path.join(state_p, "_state.json")))["parts"]
    assert sorted(d for d in os.listdir(state_p)
                  if d.startswith("batch=")) == sorted(parts)
    rows = {str(r["window_start"]): r["n"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert len(rows) == 5 and all(n == 1 for n in rows.values())


def test_stream_funnel_sink_equals_batch_and_replay(spark, sf_dir, tmp_path):
    """The continuous funnel over the full (availableNow) input must
    equal the batch funnel row-for-row, and a replayed micro-batch must
    not change the counts (distinct-triple partials are idempotent)."""
    import shutil

    from metrique_spark.functions.cache import release
    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_fun"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    events = load_table(spark, str(src_dir), "a")
    batch = ev.funnel(events, steps=("view", "click", "purchase"))
    expect = sorted((r["step"], r["step_idx"], r["n_users"])
                    for r in batch.collect())
    release(batch)
    assert expect[0][2] > 0

    state_p, out_p = str(tmp_path / "fun_state"), str(tmp_path / "fun_out")
    sink = ev.stream_funnel_sink(state_p, out_p,
                                 steps=("view", "click", "purchase"))
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_fun"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["step"], r["step_idx"], r["n_users"])
                 for r in spark.read.parquet(out_p).collect())
    assert got == expect

    sink(events, 0)  # at-least-once replay: overwrites its own partial
    again = sorted((r["step"], r["step_idx"], r["n_users"])
                   for r in spark.read.parquet(out_p).collect())
    assert again == expect


def test_stream_funnel_sink_late_step1_reanchors(spark, tmp_path):
    """The property that forces distinct-triple state: a step-2 event
    BELOW the current stage-1 anchor converts nobody — until a LATE
    step-1 event lowers the anchor beneath it. Per-(user, step) min
    state would have discarded that step-2 timestamp."""
    state_p, out_p = str(tmp_path / "st"), str(tmp_path / "out")
    sink = ev.stream_funnel_sink(state_p, out_p, steps=("view", "click"))

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts string,"
                  " event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp"))

    # batch 0: click@05 precedes view@10 — no conversion
    sink(mk([(1, 1, "2024-01-01 00:10:00", "view"),
             (2, 1, "2024-01-01 00:05:00", "click")]), 0)
    rows = {r["step"]: r["n_users"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {"view": 1, "click": 0}
    # batch 1: late view@02 lowers the anchor below the old click
    sink(mk([(3, 1, "2024-01-01 00:02:00", "view")]), 1)
    rows = {r["step"]: r["n_users"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {"view": 1, "click": 1}


def test_stream_retention_sink_equals_batch_late_cohort_and_compaction(
        spark, sf_dir, tmp_path):
    """Retention stream twin: equals batch over the availableNow input;
    a late event PREDATING a user's known first activity re-assigns
    their cohort on the next refresh; (u, tp)-min partials stay exact
    through generational compaction and a running-batch replay."""
    import shutil

    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_ret"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    events = load_table(spark, str(src_dir), "a")
    expect = sorted((str(r["cohort"]), r["period_offset"], r["n_users"])
                    for r in ev.retention_cohorts(events, "week").collect())

    state_p, out_p = str(tmp_path / "ret_state"), str(tmp_path / "ret_out")
    sink = ev.stream_retention_sink(state_p, out_p, period="week")
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_ret"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((str(r["cohort"]), r["period_offset"], r["n_users"])
                 for r in spark.read.parquet(out_p).collect())
    assert got == expect

    # hand-driven late-cohort case with aggressive compaction
    state2, out2 = str(tmp_path / "st2"), str(tmp_path / "out2")
    sink2 = ev.stream_retention_sink(state2, out2, period="week",
                                     compact_after=2)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts string,"
                  " event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp"))

    # 2024-01-01 is a Monday: weeks W0=01-01, W1=01-08, W2=01-15
    sink2(mk([(1, 1, "2024-01-15 10:00:00", "ok")]), 0)   # first seen W2
    sink2(mk([(2, 1, "2024-01-16 10:00:00", "ok")]), 1)   # same week
    sink2(mk([(3, 2, "2024-01-08 09:00:00", "ok")]), 2)   # user 2 in W1
    rows = {(str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in spark.read.parquet(out2).collect()}
    assert rows == {("2024-01-15 00:00:00", 0): 1,
                    ("2024-01-08 00:00:00", 0): 1}
    # late event predating user 1's first activity: cohort moves to W0,
    # the W2 activity becomes offset 2
    sink2(mk([(4, 1, "2024-01-01 08:00:00", "ok")]), 3)
    rows = {(str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in spark.read.parquet(out2).collect()}
    assert rows == {("2024-01-01 00:00:00", 0): 1,
                    ("2024-01-01 00:00:00", 2): 1,
                    ("2024-01-08 00:00:00", 0): 1}
    # replay of the running batch: min-merge is idempotent
    sink2(mk([(4, 1, "2024-01-01 08:00:00", "ok")]), 3)
    rows2 = {(str(r["cohort"]), r["period_offset"]): r["n_users"]
             for r in spark.read.parquet(out2).collect()}
    assert rows2 == rows


@pytest.mark.parametrize("backend", ["local", "objectstore"])
def test_partial_state_sinks_on_objectstore_backend(spark, tmp_path,
                                                    backend):
    """The shared _partial_state_sink control plane (sidecar flips, gen
    folding, batch-dir bookkeeping) must run on the rename-free
    object-store backend too — exercised through the retention twin with
    aggressive compaction plus a running-batch replay."""
    from metrique_spark.fs import ObjectStoreFS

    fs = ObjectStoreFS() if backend == "objectstore" else None
    state_p, out_p = str(tmp_path / "st"), str(tmp_path / "out")
    sink = ev.stream_retention_sink(state_p, out_p, period="day",
                                    compact_after=2, fs=fs)

    def mk(eid, day, uid):
        return spark.createDataFrame(
            [(eid, uid, f"2024-02-{day:02d} 10:00:00", "ok")],
            "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    for b in range(5):
        sink(mk(b, b + 1, 1), b)          # user 1 active days 1..5
    sink(mk(4, 5, 1), 4)                  # replay the running batch
    rows = {(str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {(f"2024-02-01 00:00:00", off): 1 for off in range(5)}


def test_seasonal_anomalies_hour_of_day_baseline(spark):
    """a rate that is NORMAL for its hour (daily 9am peak) must not
    flag under the seasonal baseline, while the same rate appearing at
    a normally-quiet hour must; the flat-baseline detector does the
    opposite on the peak case."""
    rows, eid = [], 0

    def add(day, hr, n_ok, n_err):
        nonlocal eid, rows
        for _ in range(n_ok):
            rows.append((eid, 1, f"2024-01-{day:02d} {hr:02d}:05:00", "ok"))
            eid += 1
        for _ in range(n_err):
            rows.append((eid, 1, f"2024-01-{day:02d} {hr:02d}:10:00",
                         "error"))
            eid += 1

    for day in range(1, 10):
        add(day, 9, 5, 5)      # daily 9am: 50% error rate, every day
        add(day, 3, 10, 0)     # daily 3am: quiet
    add(10, 9, 5, 5)           # day 10, 9am: same as always
    add(10, 3, 5, 5)           # day 10, 3am: 50% at a quiet hour
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {(str(r["window_start"])): r
           for r in ev.seasonal_error_anomalies(df, lookback=7).collect()}
    assert not out["2024-01-10 09:00:00"]["is_anomaly"]   # normal peak
    assert out["2024-01-10 03:00:00"]["is_anomaly"]       # abnormal quiet
    assert out["2024-01-10 03:00:00"]["hour_of_day"] == 3


def test_stream_seasonal_anomaly_sink_equals_batch(spark, sf_dir, tmp_path):
    """seasonal=True stream twin equals the batch seasonal detector
    row-for-row over the availableNow input."""
    import shutil

    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_seas"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    events = load_table(spark, str(src_dir), "a")
    expect = sorted(
        (str(r["window_start"]), r["hour_of_day"], r["n"], r["n_errors"],
         r["rate"], r["zscore"], r["is_anomaly"])
        for r in ev.seasonal_error_anomalies(events, lookback=7).collect())

    sink = ev.stream_anomaly_sink(str(tmp_path / "st"),
                                  str(tmp_path / "out"),
                                  lookback=7, seasonal=True)
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(
        (str(r["window_start"]), r["hour_of_day"], r["n"], r["n_errors"],
         r["rate"], r["zscore"], r["is_anomaly"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == expect


def _mk_ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts string,"
              " event_type string").withColumn(
        "ts", F.col("ts").cast("timestamp"))


def test_stream_transitions_sink_equals_batch_and_replay(
        spark, sf_dir, tmp_path):
    """The continuous transition matrix over the availableNow input must
    equal the batch matrix row-for-row; a replayed micro-batch must not
    change it (distinct-event partials are idempotent)."""
    import shutil

    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_tr"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    events = load_table(spark, str(src_dir), "a")
    expect = sorted(map(tuple, ev.event_transitions(events).collect()))
    assert expect

    state_p, out_p = str(tmp_path / "tr_state"), str(tmp_path / "tr_out")
    sink = ev.stream_transitions_sink(state_p, out_p)
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_tr"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out_p).collect()))
    assert got == expect

    sink(events, 0)  # at-least-once replay
    again = sorted(map(tuple, spark.read.parquet(out_p).collect()))
    assert again == expect


def test_stream_transitions_sink_boundary_pair_and_late_split(
        spark, tmp_path):
    """The two properties that force whole-event state: a pair SPANNING
    a batch boundary must count once both events have arrived, and a
    LATE event must split the pair it lands inside."""
    state_p, out_p = str(tmp_path / "st"), str(tmp_path / "out")
    sink = ev.stream_transitions_sink(state_p, out_p)

    sink(_mk_ev(spark, [(1, 1, "2024-01-01 00:01:00", "A"),
                        (2, 1, "2024-01-01 00:02:00", "B")]), 0)
    rows = {(r["from_type"], r["to_type"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {("A", "B"): 1}

    # batch 1: one event -> boundary pair (B, C) appears
    sink(_mk_ev(spark, [(3, 1, "2024-01-01 00:03:00", "C")]), 1)
    rows = {(r["from_type"], r["to_type"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {("A", "B"): 1, ("B", "C"): 1}

    # batch 2: late D between A and B splits (A, B)
    sink(_mk_ev(spark, [(4, 1, "2024-01-01 00:01:30", "D")]), 2)
    rows = {(r["from_type"], r["to_type"]): r["n"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {("A", "D"): 1, ("D", "B"): 1, ("B", "C"): 1}


def test_stream_paths_sink_equals_batch_and_replay(spark, sf_dir, tmp_path):
    """The continuous first-k path distribution over the availableNow
    input must equal the batch operator; replay must not change it."""
    import shutil

    from metrique_spark.sources.testdata import load_table

    src_dir = tmp_path / "ev_pa"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "a.parquet")
    events = load_table(spark, str(src_dir), "a")
    expect = sorted(map(tuple, ev.event_paths(events, k=3).collect()))
    assert expect

    state_p, out_p = str(tmp_path / "pa_state"), str(tmp_path / "pa_out")
    sink = ev.stream_paths_sink(state_p, out_p, k=3)
    stream = ev.read_events_stream(spark, str(src_dir),
                                   max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck_pa"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out_p).collect()))
    assert got == expect

    sink(events, 0)  # at-least-once replay
    again = sorted(map(tuple, spark.read.parquet(out_p).collect()))
    assert again == expect


def test_stream_paths_sink_late_event_displaces(spark, tmp_path):
    """A late event belonging in a user's true first k must displace the
    later one on the next refresh (keep-k-earliest state, rebuilt
    paths)."""
    state_p, out_p = str(tmp_path / "pst"), str(tmp_path / "pout")
    sink = ev.stream_paths_sink(state_p, out_p, k=2)

    sink(_mk_ev(spark, [(1, 1, "2024-01-01 00:02:00", "B"),
                        (2, 1, "2024-01-01 00:03:00", "C")]), 0)
    rows = {r["path"]: r["n_users"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {"B>C": 1}

    sink(_mk_ev(spark, [(3, 1, "2024-01-01 00:01:00", "A")]), 1)
    rows = {r["path"]: r["n_users"]
            for r in spark.read.parquet(out_p).collect()}
    assert rows == {"A>B": 1}


def test_stream_paths_sink_state_bounded_after_compaction(spark, tmp_path):
    """After a generational fold the paths state holds at most k rows
    per user — the whole point of keep-k-earliest partials."""
    state_p, out_p = str(tmp_path / "bst"), str(tmp_path / "bout")
    sink = ev.stream_paths_sink(state_p, out_p, k=2, compact_after=1)
    # three batches of 5 events each for one user -> compaction triggers
    for b in range(3):
        sink(_mk_ev(spark, [
            (b * 10 + i, 7, f"2024-01-01 00:{b:02d}:{i:02d}", "E")
            for i in range(5)]), b)
    state = spark.read.parquet(state_p)
    # committed (pre-current-batch) state was folded to <= k rows/user;
    # only the latest batch's partial may add its own <= k rows
    assert state.groupBy("u").count().agg(
        F.max("count")).first()[0] <= 4


@pytest.mark.parametrize("backend", ["local", "objectstore"])
def test_transitions_and_paths_sinks_on_backends(spark, tmp_path, backend):
    """The round's new sinks run their full control plane (batch dirs,
    gen folding, sidecar flips) on the rename-free object-store backend
    too, with aggressive compaction and a replay."""
    from metrique_spark.fs import ObjectStoreFS

    fs = ObjectStoreFS() if backend == "objectstore" else None

    tr_sink = ev.stream_transitions_sink(
        str(tmp_path / "ts"), str(tmp_path / "to"), compact_after=2, fs=fs)
    pa_sink = ev.stream_paths_sink(
        str(tmp_path / "ps"), str(tmp_path / "po"), k=2,
        compact_after=2, fs=fs)
    for b, (eid, t, ty) in enumerate([
            (1, "00:01:00", "A"), (2, "00:02:00", "B"),
            (3, "00:03:00", "C"), (4, "00:04:00", "A")]):
        batch = _mk_ev(spark, [(eid, 1, f"2024-01-01 {t}", ty)])
        tr_sink(batch, b)
        pa_sink(batch, b)
    tr_sink(_mk_ev(spark, [(4, 1, "2024-01-01 00:04:00", "A")]), 3)  # replay
    rows = {(r["from_type"], r["to_type"]): r["n"]
            for r in spark.read.parquet(str(tmp_path / "to")).collect()}
    assert rows == {("A", "B"): 1, ("B", "C"): 1, ("C", "A"): 1}
    paths = {r["path"]: r["n_users"]
             for r in spark.read.parquet(str(tmp_path / "po")).collect()}
    assert paths == {"A>B": 1}


def test_streaming_ingest_keeps_auto_index_fresh(spark, tmp_path):
    """readStream → foreachBatch → temporal upsert on a cube whose ANN
    index was built with auto_refresh=True: every micro-batch's commit
    epilogue refreshes the index, so continuous vector ingest stays
    searchable with no manual refresh or rebuild between batches — the
    closed loop a live embedding store actually needs."""
    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))

    import hashlib

    def vecs(ids, shift):
        # md5-scrambled components (ramp-like formulas make shifted
        # vectors near-collinear — ties at 1.0 after sim rounding):
        # cosine(a, b) for a != b stays well below 1.0, so the
        # exact-match probe below is unambiguous
        def comp(i, j):
            h = hashlib.md5(f"{i}/{j}/{shift}".encode()).hexdigest()
            return int(h[:6], 16) % 1000 / 1000.0

        rows = [(i, [comp(i, j) for j in range(8)]) for i in ids]
        return spark.createDataFrame(
            rows, "oid long, embedding array<double>")

    eng.upsert("v", stamp(vecs(range(50), 0), oid="oid",
                          start=F.to_timestamp(F.lit("2014-01-01")),
                          sort_arrays=False), stamped=True)
    eng.build_vector_index("v", "ix", vec_col="embedding", kind="ivf",
                           nlist=4, auto_refresh=True)

    import os
    import shutil

    src = tmp_path / "vec_src"
    src.mkdir()
    # two FLAT files -> two micro-batches (maxFilesPerTrigger=1; the
    # file source does not recurse into nested write dirs):
    # 20 brand-new ids, then 5 CHANGED ids (shifted vectors)
    for i, df in enumerate([vecs(range(100, 120), 1),
                            vecs(range(0, 5), 3)]):
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in os.listdir(stage)
                    if p.endswith(".parquet"))
        shutil.copy(stage / part, src / f"b{i}.parquet")
    stream = (spark.readStream.schema("oid long, embedding array<double>")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        eng.upsert("v", stamp(batch_df, oid="oid",
                              start=F.to_timestamp(F.lit("2014-02-01")),
                              sort_arrays=False), stamped=True)

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert not eng.vector_index_list("v")["ix"]["stale"]
    stored = {(r["_oid"], tuple(r["v"])) for r in spark.read.parquet(
        eng._ann_path("v", "ix") + "/vectors")
        .selectExpr("_oid", "v").collect()}
    live = {(r["_oid"], tuple(r["embedding"])) for r in
            eng.find("v", fields="embedding").collect()}
    assert stored == live and len(stored) == 70
    # a query AT a streamed id's exact vector finds it as top neighbor
    target = vecs([110], 1).collect()[0]["embedding"]
    q1 = spark.createDataFrame([(-1, target)],
                               "_oid long, embedding array<double>")
    top = (eng.vector_search("v", "ix", q1, k=1, nprobe=4)
           .collect()[0])
    assert top["neighbor_id"] == 110 and top["sim"] == 1.0


@pytest.mark.parametrize("backend", ["local", "objectstore"])
def test_stream_upsert_sink_group_commit_coalesces(spark, tmp_path,
                                                   backend, monkeypatch):
    """Opt-in group commit: micro-batches stage durably and fold into
    ONE engine commit per N batches — the CURRENT state matches the
    per-batch oracle exactly (intermediate versions within a window
    collapse, the documented buffered-container semantics), rows
    stranded in the stage by a crash are drained by the next sink
    instance, and replay converges. Runs against BOTH control-plane
    backends: the stage's root protocol rides ``engine.fs``, so
    the objectstore run proves the coalescing sink never needs POSIX
    rename/O_EXCL/recursive-rmtree semantics."""
    import json

    from pyspark.sql import functions as F

    from metrique_spark.engine import Engine
    from metrique_spark.fs import ObjectStoreFS
    from metrique_spark.objects import stamp
    from metrique_spark.streaming.events import stream_upsert_sink

    mkfs = (ObjectStoreFS if backend == "objectstore" else lambda: None)

    def b(items, t):
        df = spark.createDataFrame(items, "oid long, v long")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(t))).localCheckpoint()

    batches = [
        b([(1, 10), (2, 20)], "2024-01-01"),
        b([(3, 30), (4, 40)], "2024-01-02"),
        b([(1, 11)], "2024-01-03"),
        b([(2, 21)], "2024-01-04"),
        b([(5, 50)], "2024-01-05"),
        b([(3, 31)], "2024-01-06"),
    ]
    # per-batch oracle
    oracle = Engine(spark, warehouse=str(tmp_path / "wh_o"),
                    oid_buckets=2, fs=mkfs())
    plain = stream_upsert_sink(oracle, "cube", str(tmp_path / "ck_o"))
    for i, bd in enumerate(batches):
        plain(bd, i)

    def cur(eng):
        return sorted((r["_oid"], r["v"]) for r in
                      eng.find("cube", fields="v").collect())

    def staged(sink):
        return json.loads(eng.fs.read_text(
            eng.fs.join(sink.stage_root, "_state.json")))["parts"]

    # coalesced: 3 staged batches per engine commit
    eng = Engine(spark, warehouse=str(tmp_path / "wh_c"), oid_buckets=2,
                 fs=mkfs())
    ck = str(tmp_path / "ck_c")
    sink = stream_upsert_sink(eng, "cube", ck, coalesce_batches=3)
    for i, bd in enumerate(batches[:5]):
        sink(bd, i)
    # 5 batches in: one flush happened (at 3), two remain staged —
    # durably on disk, not in the cube yet
    assert eng._manifest(eng._path("cube"))["gen"] == 1
    assert len(staged(sink)) == 2
    # "crash": a NEW sink instance (restart) inherits the stage and
    # drains it with the next batch's flush trigger
    sink2 = stream_upsert_sink(eng, "cube", ck, coalesce_batches=3)
    sink2(batches[5], 5)
    assert staged(sink2) == []
    assert [d for d in eng.fs.listdir(sink2.stage_root)
            if d.startswith("batch=")] == []  # drained dirs dropped
    assert eng._manifest(eng._path("cube"))["gen"] == 2  # 2 commits / 6 batches
    # current state identical to the per-batch oracle
    assert cur(eng) == cur(oracle) == [(1, 11), (2, 21), (3, 31),
                                       (4, 40), (5, 50)]
    # replay of the last batch (at-least-once) + a final drain: no-op
    sink2(batches[5], 5)
    assert sink2.flush(spark) == 1
    assert cur(eng) == cur(oracle)
    assert eng.count("cube", date="~") == len(cur(eng)) + 2  # 2 closed
    # time-based trigger: a fresh sink with a tiny window flushes on
    # the next batch
    eng3 = Engine(spark, warehouse=str(tmp_path / "wh_t"),
                  oid_buckets=2, fs=mkfs())
    sink3 = stream_upsert_sink(eng3, "cube", str(tmp_path / "ck_t"),
                               coalesce_seconds=0.0)
    sink3(batches[0], 0)
    assert cur(eng3) == [(1, 10), (2, 20)]
    # a drain that crashes after publishing the stage root empty, before
    # its sweep, strands the drained directories no root names; the next
    # flush — with nothing staged — sweeps them
    eng4 = Engine(spark, warehouse=str(tmp_path / "wh_x"),
                  oid_buckets=2, fs=mkfs())
    ck4 = str(tmp_path / "ck_x")

    def crash(*_a):
        raise RuntimeError("crash after the stage publish")

    with monkeypatch.context() as m:
        m.setattr("metrique_spark.fs.vacuum", crash)
        sink4 = stream_upsert_sink(eng4, "cube", ck4, coalesce_batches=2)
        sink4(batches[0], 0)
        with pytest.raises(RuntimeError, match="crash after"):
            sink4(batches[1], 1)

    def listing(sink):
        return [d for d in eng4.fs.listdir(sink.stage_root)
                if not d.startswith(".")]

    assert json.loads(eng4.fs.read_text(eng4.fs.join(
        sink4.stage_root, "_state.json")))["parts"] == []
    assert listing(sink4) == ["_state.json", "batch=0", "batch=1"]
    sink5 = stream_upsert_sink(eng4, "cube", ck4, coalesce_batches=2)
    assert sink5.flush(spark) == 0
    assert listing(sink5) == ["_state.json"]
    assert cur(eng4) == [(1, 10), (2, 20), (3, 30), (4, 40)]
