"""The seeded generator, the LWW oracle, and the output check catching a
corrupted sink row."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import workloads

SPEC = gen.LogSpec(n_events=120, n_keys=30, langs=("eml", "mbox", "ics", "py"),
                   hot_fraction=0.5)


def test_same_seed_same_log_other_seed_other_payloads():
    a = [gen.event(1, SPEC, o) for o in range(SPEC.n_events)]
    assert a == [gen.event(1, SPEC, o) for o in range(SPEC.n_events)]
    b = [gen.event(2, SPEC, o) for o in range(SPEC.n_events)]
    same = sum(x["content"] == y["content"] for x, y in zip(a, b)
               if x["content"] is not None)
    assert same == 0
    # key layout and per-key causality do not depend on the seed
    assert [e["path"] for e in a] == [e["path"] for e in b]
    for log in (a, b):
        first = {}
        for e in log:
            first.setdefault((e["repo"], e["path"]), e["op"])
        assert set(first.values()) == {"I"}


def test_oracle_is_last_writer_wins_and_deletes():
    log = [gen.event(1, SPEC, o) for o in range(SPEC.n_events)]
    deleted = {(e["repo"], e["path"]) for e in log if e["op"] == "D"}
    assert deleted, "the log must exercise deletes"
    state = gen.lww_oracle(log, SPEC.n_events - 1)
    keys = {(r, p) for r, p, _, _ in state}
    assert keys.isdisjoint(deleted)
    assert len(keys) == SPEC.n_keys - len(deleted)
    last = {(e["repo"], e["path"]): e["offset"] for e in log}
    assert all(off == last[(r, p)] for r, p, off, _ in state)
    # a prefix sees only what was applied by then
    assert {off for _, _, off, _ in gen.lww_oracle(log, 29)} == set(range(30))


def test_corrupted_row_is_a_mismatch():
    log = [gen.event(1, SPEC, o) for o in range(SPEC.n_events)]
    good = gen.lww_oracle(log, SPEC.n_events - 1)
    row = sorted(good)[0]
    bad = (good - {row}) | {row[:3] + ("0" * 64,)}
    assert gen.snapshot_mismatches(good, good) == 0
    assert gen.snapshot_mismatches(bad, good) == 2
    assert gen.snapshot_mismatches(good - {row}, good) == 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import host
    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    host.prepare_env(root, str(tmp_path_factory.mktemp("work")), None)
    s = host.start_session()
    yield s
    s.stop()


def _corrupt_one_snapshot_row(sink_root: str) -> None:
    """Overwrite one snapshot row's hash in the last batch's envelope,
    whose rows are all visible (every key is upserted in every batch)."""
    last = max(glob.glob(os.path.join(sink_root, "data", "_envelope", "batch-*")),
               key=lambda d: int(d.rsplit("-", 1)[1]))
    path = sorted(glob.glob(os.path.join(last, "*.parquet")))[0]
    table = pq.read_table(path)
    snap = table.column("snapshot").to_pylist()
    i = next(i for i, r in enumerate(snap) if r is not None)
    snap[i] = dict(snap[i], content_sha256="0" * 64)
    col = table.schema.get_field_index("snapshot")
    table = table.set_column(col, table.schema.field(col),
                             pa.array(snap, type=table.schema.field(col).type))
    pq.write_table(table, path)
    # Hadoop's local file system verifies the checksum sidecar on read
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_check_passes_then_catches_a_corrupted_sink_row(spark, tmp_path):
    shape = workloads.SHAPES["email_replay"]
    log_dir = str(tmp_path / "log")
    events = workloads._write_log(log_dir, 5, shape, 2, 400)
    tracer = workloads.tracing.Tracer()
    engine = workloads._engine(spark, str(tmp_path / "sink"), 8, tracer)
    # 400 events per batch: each hot repo's 100 clear the engine's
    # hot_key_min of 64
    results = workloads._apply(spark, shape, engine, log_dir, str(tmp_path / "ckpt"),
                               400)
    ok = workloads.Outcome()
    workloads._check("email_replay", engine, events, results, ok)
    assert (ok.attempted, ok.failed) == (6, 0), ok.problems

    _corrupt_one_snapshot_row(str(tmp_path / "sink"))
    bad = workloads.Outcome()
    workloads._check("email_replay", engine, events, results, bad)
    assert bad.failed == 1 and "LWW oracle" in bad.problems[0]
