"""Structured-Streaming front-end tests: drain a file-source event stream
through foreachBatch into the engine; verify final-state parity, restart
idempotence, and incremental arrival."""

import os

import pytest

from emailcdc import schemas
from emailcdc.engine import CdcEngine
from emailcdc.fixtures import expected_final_state, make_change_events
from emailcdc.sink import SnapshotParquetSink
from emailcdc.streaming import run_stream, stream_events

EVENTS = make_change_events(24)
EXPECTED = expected_final_state(EVENTS)


def _write_chunk(spark, events, path):
    spark.createDataFrame(events, schema=schemas.CHANGE_EVENTS) \
        .coalesce(1).write.mode("append").parquet(path)


def _drain(query, timeout: int = 180) -> None:
    """Wait for a drain-mode (availableNow) query: it must terminate
    within ``timeout`` seconds — a timeout fails the test instead of
    letting it assert on a half-drained sink.  The query is stopped
    either way."""
    try:
        assert query.awaitTermination(timeout), \
            f"stream still running after {timeout}s"
    finally:
        query.stop()


def _snap_keys(engine):
    return {(r["repo"], r["path"]) for r in engine.table("snapshot").collect()}


class TestStreaming:
    def test_drain_and_parity(self, spark, tmp_path):
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        sink_dir = str(tmp_path / "sink")
        half = len(EVENTS) // 2
        _write_chunk(spark, EVENTS[:half], src)
        _write_chunk(spark, EVENTS[half:], src)
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        _drain(run_stream(engine, stream_events(spark, src, max_files_per_trigger=1),
                          ckpt))
        assert _snap_keys(engine) == set(EXPECTED)
        manifest = engine.sink.read_manifest()
        assert manifest.batch_id >= 2  # maxFilesPerTrigger=1 → ≥2 epochs

    def test_restart_is_idempotent(self, spark, tmp_path):
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        sink_dir = str(tmp_path / "sink")
        _write_chunk(spark, EVENTS, src)
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        before = _snap_keys(engine)
        msg_before = engine.table("messages").count()
        # restart with the same checkpoint: no new data → no new commits
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        assert _snap_keys(engine) == before
        assert engine.table("messages").count() == msg_before

    def test_incremental_arrival(self, spark, tmp_path):
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        sink_dir = str(tmp_path / "sink")
        half = len(EVENTS) // 2
        _write_chunk(spark, EVENTS[:half], src)
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        partial = expected_final_state(EVENTS[:half])
        assert _snap_keys(engine) == set(partial)
        # second tranche arrives; a new drain picks up only the delta
        _write_chunk(spark, EVENTS[half:], src)
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        assert _snap_keys(engine) == set(EXPECTED)

    def test_stream_after_batch_replay_not_swallowed(self, spark, tmp_path):
        """ADVICE r1 regression: snapshot ids consumed by a prior batch
        replay (or compaction) must NOT cause streaming epochs to be
        silently skipped — epoch idempotence is tracked by last_epoch,
        not by snapshot id."""
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        sink_dir = str(tmp_path / "sink")
        half = len(EVENTS) // 2
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        # batch replay first: consumes snapshot ids 1..N (N >= 3 via small
        # batch_size), leaving CURRENT well past the stream's first epochs
        edf = spark.createDataFrame(EVENTS[:half], schema=schemas.CHANGE_EVENTS)
        engine.replay(edf, batch_size=4)
        assert engine.sink.current_snapshot_id() >= 3
        # now stream the second tranche into the SAME sink; its epochs
        # start at 0 — under the old epoch+1==snapshot scheme every one of
        # them would hit "batch_id <= CURRENT" and be dropped
        _write_chunk(spark, EVENTS[half:], src)
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        assert _snap_keys(engine) == set(EXPECTED)
        assert engine.last_epoch() == 0
        # restart with the same checkpoint: idempotent, nothing re-applied
        before = engine.table("messages").count()
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        assert engine.table("messages").count() == before

    def test_cleared_checkpoint_starts_fresh_namespace(self, spark, tmp_path):
        """ADVICE r2: a restart with a FRESH/cleared checkpoint dir restarts
        epoch ids at 0.  The watermark is namespaced by the checkpoint's
        query id, so those epochs must be applied (at-least-once across
        checkpoint lineages), not silently dropped against the old
        lineage's last_epoch — that was permanent data loss."""
        src = str(tmp_path / "events")
        sink_dir = str(tmp_path / "sink")
        half = len(EVENTS) // 2
        _write_chunk(spark, EVENTS[:half], src)
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        _drain(run_stream(engine, stream_events(spark, src),
                          str(tmp_path / "ckpt1")))
        assert engine.last_epoch() == 0
        assert engine.sink.read_manifest().stream_id is not None
        # checkpoint is LOST; second tranche arrives; new query re-reads
        # everything from epoch 0 — the old global watermark dropped it all
        _write_chunk(spark, EVENTS[half:], src)
        _drain(run_stream(engine, stream_events(spark, src),
                          str(tmp_path / "ckpt2")))
        assert _snap_keys(engine) == set(EXPECTED)
        # same (second) checkpoint restarts stay exactly-once
        before = engine.table("messages").count()
        _drain(run_stream(engine, stream_events(spark, src),
                          str(tmp_path / "ckpt2")))
        assert engine.table("messages").count() == before

    def test_rate_limited_microbatches(self, spark, tmp_path):
        """Backpressure knob (FLOWFILE_COUNT analog): maxFilesPerTrigger=1
        slices the drain into one-file micro-batches — multiple epochs,
        each committed and watermarked, same final state."""
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        third = len(EVENTS) // 3
        _write_chunk(spark, EVENTS[:third], src)
        _write_chunk(spark, EVENTS[third:2 * third], src)
        _write_chunk(spark, EVENTS[2 * third:], src)
        engine = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink"), n_buckets=8))
        _drain(run_stream(engine,
                          stream_events(spark, src, max_files_per_trigger=1),
                          ckpt), 240)
        assert _snap_keys(engine) == set(EXPECTED)
        # three files → at least three epochs, watermark at the last one
        assert engine.last_epoch() >= 2

    def test_fanout_two_sinks_parity_and_idempotence(self, spark, tmp_path):
        """run_stream_fanout: one stream → two sinks, both reach the full
        final state; a re-run applies nothing twice on either sink."""
        from emailcdc.streaming import run_stream_fanout
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        _write_chunk(spark, EVENTS, src)
        a = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink_a"), n_buckets=8))
        b = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink_b"), n_buckets=8))
        routes = {"a": (a, None), "b": (b, None)}
        _drain(run_stream_fanout(routes, stream_events(spark, src), ckpt))
        assert _snap_keys(a) == set(EXPECTED)
        assert _snap_keys(b) == set(EXPECTED)
        na, nb = a.table("messages").count(), b.table("messages").count()
        _drain(run_stream_fanout(routes, stream_events(spark, src), ckpt))
        assert a.table("messages").count() == na
        assert b.table("messages").count() == nb

    def test_fanout_crash_between_sink_commits_heals(self, spark, tmp_path):
        """Crash window: within one epoch, sink A commits, then the query
        dies before sink B's commit.  The restart re-delivers the
        unfinished epoch; A's watermark skips it, B applies it — per-sink
        exactly-once with no cross-sink transaction."""
        from emailcdc.streaming import run_stream_fanout
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        _write_chunk(spark, EVENTS, src)
        a = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink_a"), n_buckets=8))
        b_sink = SnapshotParquetSink(spark, str(tmp_path / "sink_b"),
                                     n_buckets=8)
        b = CdcEngine(spark, b_sink)

        class _Dies(CdcEngine):
            def apply_batch(self, *a_, **kw):  # crash BEFORE B's commit
                raise RuntimeError("simulated crash before sink B commit")

        dying_b = _Dies(spark, b_sink)
        q = run_stream_fanout({"a": (a, None), "b": (dying_b, None)},
                              stream_events(spark, src), ckpt)
        with pytest.raises(Exception, match="simulated crash"):
            _drain(q)  # the foreachBatch error terminates the query
        assert _snap_keys(a) == set(expected_final_state(EVENTS[:]))  # A landed epoch 0
        na = a.table("messages").count()
        assert b_sink.read_manifest() is None  # B has nothing
        # restart, healthy B: the replayed epoch applies to B only
        _drain(run_stream_fanout({"a": (a, None), "b": (b, None)},
                                 stream_events(spark, src), ckpt))
        assert _snap_keys(b) == set(EXPECTED)
        assert a.table("messages").count() == na

    def test_fanout_routed_predicates_partition_the_stream(self, spark,
                                                           tmp_path):
        """Predicate routes: two disjoint repo filters — each sink holds
        exactly its slice and their union is the full final state."""
        from emailcdc.streaming import run_stream_fanout
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        _write_chunk(spark, EVENTS, src)
        hot = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink_hot"), n_buckets=8))
        cold = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink_cold"), n_buckets=8))
        pred = "repo like 'org0/hot%'"
        _drain(run_stream_fanout(
            {"hot": (hot, pred), "cold": (cold, f"not ({pred})")},
            stream_events(spark, src), ckpt))
        hot_keys = _snap_keys(hot)
        cold_keys = _snap_keys(cold)
        assert hot_keys and cold_keys
        assert hot_keys.isdisjoint(cold_keys)
        assert hot_keys | cold_keys == set(EXPECTED)
        assert all(r.startswith("org0/hot") for r, _p in hot_keys)

    def test_legacy_manifest_unowned_by_stream_aware_caller(self, spark,
                                                            tmp_path):
        """ADVICE r3: a manifest that predates the stream_id field (epoch
        committed with stream_id=None) must read as UNOWNED to a caller
        that supplies a stream_id — a fresh checkpoint restarts epochs at
        0 and those must not be dropped against the legacy watermark."""
        engine = CdcEngine(spark, SnapshotParquetSink(
            spark, str(tmp_path / "sink"), n_buckets=8))
        edf = spark.createDataFrame(EVENTS[:6], schema=schemas.CHANGE_EVENTS)
        engine.apply_batch(edf, batch_id=1, epoch=5, stream_id=None)
        assert engine.sink.read_manifest().stream_id is None
        # legacy (stream-unaware) caller keeps the global watermark
        assert engine.last_epoch() == 5
        # stream-aware caller: legacy watermark is unowned → apply epochs
        assert engine.last_epoch(stream_id="fresh-query-id") is None

    def test_compaction_preserves_last_epoch(self, spark, tmp_path):
        src = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        sink_dir = str(tmp_path / "sink")
        _write_chunk(spark, EVENTS, src)
        engine = CdcEngine(spark, SnapshotParquetSink(spark, sink_dir, n_buckets=8))
        _drain(run_stream(engine, stream_events(spark, src), ckpt))
        epoch_before = engine.last_epoch()
        assert epoch_before is not None
        # a maintenance compaction (non-streaming commit) carries it forward
        engine.sink.compact_now(engine.next_batch_id())
        assert engine.last_epoch() == epoch_before
