"""MOR compaction tests: the fold path must preserve exact state."""

import os

import pytest

import main
from emailcdc import schemas, session
from emailcdc.engine import CdcEngine
from emailcdc.fixtures import expected_final_state, make_change_events
from emailcdc.sink import SnapshotParquetSink

EVENTS = make_change_events(30)
EXPECTED = expected_final_state(EVENTS)


def _snap(engine):
    return {(r["repo"], r["path"]): r for r in engine.table("snapshot").collect()}


class TestCompaction:
    def test_fold_preserves_state(self, spark, sink_dir):
        # compact_every=2 → folds happen repeatedly mid-replay
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
                   batch_size=10)
        rows = _snap(eng)
        assert set(rows) == set(EXPECTED)
        for key, ev in EXPECTED.items():
            assert rows[key]["commit"] == ev["commit"]
        # fold actually happened: delta depth reset and dir lists collapsed
        manifest = sink.read_manifest()
        assert manifest.delta_depth < 2
        assert len(manifest.marks) <= 2

    def test_messages_replaced_across_fold(self, spark, sink_dir):
        from emailcdc.fixtures import make_eml
        key = {"repo": "r", "path": "a.eml", "lang": "eml"}
        events = [
            {"offset": i, "op": "I" if i == 0 else "U", "ts": None, **key,
             "commit": f"c{i}", "content": make_eml(i)}
            for i in range(6)
        ]
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=4, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(events, schema=schemas.CHANGE_EVENTS),
                   batch_size=1)
        msgs = eng.table("messages").collect()
        assert len(msgs) == 1
        assert msgs[0]["subject"] == "report 5"

    def test_compact_now_idempotent_reads(self, spark, sink_dir):
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8, compact_every=100)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
                   batch_size=20)
        before = _snap(eng)
        msgs_before = eng.table("messages").count()
        sink.compact_now(sink.current_snapshot_id() + 1)
        assert _snap(eng) == before
        assert eng.table("messages").count() == msgs_before
        # vacuum after compaction removes superseded deltas; reads intact
        removed = sink.vacuum()
        assert removed > 0
        assert _snap(eng) == before

    def test_delete_survives_fold(self, spark, sink_dir):
        key = {"repo": "r", "path": "p.txt", "lang": "txt"}
        events = [
            {"offset": 0, "op": "I", "ts": None, **key, "commit": "c0", "content": "v0"},
            {"offset": 1, "op": "U", "ts": None, **key, "commit": "c1", "content": "v1"},
            {"offset": 2, "op": "D", "ts": None, **key, "commit": None, "content": None},
            {"offset": 3, "op": "I", "ts": None, "repo": "r2", "path": "q.txt",
             "lang": "txt", "commit": "c3", "content": "v3"},
        ]
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=4, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(events, schema=schemas.CHANGE_EVENTS),
                   batch_size=1)
        rows = _snap(eng)
        assert set(rows) == {("r2", "q.txt")}

    def test_cli_compact_on_empty_sink_fails_clearly(self, spark, sink_dir,
                                                     monkeypatch):
        """``main.py compact`` on a sink with no committed snapshot exits
        with a clear error instead of a TypeError.  The CLI gets the shared
        session (get_spark would reconfigure it), and stop() is disarmed so
        no path can stop it."""
        monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        with pytest.raises(SystemExit, match="nothing to compact"):
            main.main(["compact", "--sink", sink_dir])
