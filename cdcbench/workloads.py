"""The two workloads, both closed-loop: one client on the driver thread
hands the engine its next batch or epoch only after the previous one
committed, against one ``local[nproc]`` session.

- ``email_replay`` replays a log through ``CdcEngine.replay`` (the batch
  entry point).  Email-heavy lang mix, 2 events per key per batch, two hot
  repos with 25% of the events each, so extraction is the largest part of
  every batch and the hot-repo salting shuffle runs.  No compaction.
- ``churn_stream`` drains a log through ``stream_events`` +
  ``run_stream(available_now=True)`` (the streaming entry point).
  Source-code langs whose extraction is nearly free, 10 events per key per
  epoch (LWW drops 90%), small epochs and a sink that folds every 3
  commits, so the per-epoch metadata jobs, commits and compaction folds do
  most of the work.

A run has three parts: set-up (session start and a warm-up that runs
every path the timed part uses once), the timed part, and the checks.
Input generation happens before set-up and is reported as context.  The
amount of work in the timed part is fixed by ``--seconds`` at the nominal
rate of a 4-core host, not by a deadline, so every run of a workload does
the same work and counts repeat exactly.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
import host
import tracing

KEYED = ("snapshot", "messages", "attachments", "calendar_entries")


@dataclass(frozen=True)
class Shape:
    """Log shape of a workload.  ``per_key`` is the number of events each
    key gets in every batch, so LWW keeps 1 in ``per_key``."""
    stream: bool
    langs: tuple
    batch: int
    per_key: int
    hot_fraction: float
    compact_every: int
    nominal_eps: float  # events/s on a 4-core host; sizes the timed part
    min_batches: int
    warm_batches: int  # 2 when the timed part folds: the warm sink folds at 2
    warm_batch: int
    files_per_batch: int
    read_passes: int  # read_s is the median pass

    @property
    def n_keys(self) -> int:
        return self.batch // self.per_key

    def spec(self, n_batches: int, batch: int | None = None) -> gen.LogSpec:
        batch = batch or self.batch
        return gen.LogSpec(n_events=n_batches * batch, n_keys=batch // self.per_key,
                           langs=self.langs, hot_fraction=self.hot_fraction,
                           events_per_file=batch // self.files_per_batch)

    def n_batches(self, seconds: float) -> int:
        return max(self.min_batches, round(seconds * self.nominal_eps / self.batch))


SHAPES = {
    # hot_fraction 0.5 over the fixture's 2 hot repos gives each 25% of
    # every batch, above the engine's 20% hot_key_fraction
    "email_replay": Shape(False, ("eml", "mbox", "eml", "ics", "eml", "py"),
                          batch=5000, per_key=2, hot_fraction=0.5,
                          compact_every=8, nominal_eps=1000, min_batches=4,
                          warm_batches=1, warm_batch=5000, files_per_batch=8,
                          read_passes=1),
    # 7 epochs, folds at the 3rd and 6th, so 5 plain epochs give op_s_p50
    # and the final read merges one delta; a snapshot table of 240 rows
    # reads in ~1 s, so its read time is the median of 3 passes
    "churn_stream": Shape(True, ("py", "txt", "java"), batch=2400, per_key=10,
                          hot_fraction=0.0, compact_every=3, nominal_eps=800,
                          min_batches=7, warm_batches=2, warm_batch=2400,
                          files_per_batch=4, read_passes=3),
}


@dataclass
class Outcome:
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


# --- pieces ---------------------------------------------------------------


def _engine(spark, root: str, compact_every: int, tracer: tracing.Tracer):
    """Engine and sink as a user builds them, with spans around
    ``CdcEngine.apply_batch`` and ``SnapshotParquetSink.commit``."""
    from emailcdc.engine import CdcEngine
    from emailcdc.sink import SnapshotParquetSink
    sink = SnapshotParquetSink(spark, root, compact_every=compact_every)
    sink.commit = tracer.wrap("sink.commit", sink.commit)
    engine = CdcEngine(spark, sink)
    engine.apply_batch = tracer.wrap("engine.apply_batch", engine.apply_batch)
    return engine


def _drain(spark, engine, log_dir: str, ckpt: str, files_per_trigger: int) -> None:
    from emailcdc.streaming import run_stream, stream_events
    q = run_stream(engine, stream_events(spark, log_dir, files_per_trigger), ckpt,
                   available_now=True)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def _apply(spark, shape: Shape, engine, log_dir: str, ckpt: str,
           batch: int) -> list:
    """Apply the whole log through the workload's entry point; returns
    the BatchResults of every batch or epoch."""
    if shape.stream:
        _drain(spark, engine, log_dir, ckpt, shape.files_per_batch)
    else:
        engine.replay(spark.read.parquet(log_dir), batch_size=batch)
    # read off the spans, so a failure part-way keeps what was committed
    return [r for r in (s.attrs.get("result") for s in
                        engine.apply_batch.tracer.named("engine.apply_batch"))
            if r is not None]


def _write_log(root: str, seed: int, shape: Shape, n_batches: int,
               batch: int | None = None) -> list:
    events = gen.write_log(root, seed, shape.spec(n_batches, batch))
    if shape.stream:
        # the file source takes files oldest first: make mtime order the
        # offset order, so epochs arrive in log order
        base = time.time() - 10_000
        for i, name in enumerate(sorted(os.listdir(root))):
            os.utime(os.path.join(root, name), (base + i, base + i))
    return events


def _read_tables(engine, tracer: tracing.Tracer, passes: int = 1) -> dict:
    """Full read of every keyed table's current snapshot to the noop sink;
    per table, the median seconds over ``passes`` passes."""
    times: dict[str, list] = {t: [] for t in KEYED}
    for _ in range(passes):
        for t in KEYED:
            with tracer.span("sink.read_table", table=t) as s:
                df = engine.sink.read_table(t)
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
            times[t].append(s.dur_s)
    return {t: statistics.median(v) for t, v in times.items()}


def _warm_up(spark, shape: Shape, seed: int, work: str) -> None:
    """Small batches through every path of the timed part: the entry
    point, extraction, hot-repo salting (email mix), the keyed-table reads
    and, when the timed part folds, one compaction fold."""
    root = os.path.join(work, "warm")
    log_dir = os.path.join(root, "log")
    n = shape.warm_batches
    events = _write_log(log_dir, seed + 1_000_003, shape, n, shape.warm_batch)
    tracer = tracing.Tracer()
    engine = _engine(spark, os.path.join(root, "sink"), 2, tracer)
    _apply(spark, shape, engine, log_dir, os.path.join(root, "ckpt"), shape.warm_batch)
    _read_tables(engine, tracer)
    if engine.sink.read_manifest().offset_hi != len(events) - 1:
        raise RuntimeError("warm-up did not apply its whole log")
    shutil.rmtree(root, ignore_errors=True)


def _check(name: str, engine, events: list, results: list, out: Outcome) -> None:
    """Final snapshot against the LWW oracle, and for the email mix the
    payload tables and the salting path."""
    manifest = engine.sink.read_manifest()
    applied = sum(r.event_count for r in results)
    out.op(manifest is not None and applied == len(events),
           f"applied {applied} of {len(events)} events")
    hi = manifest.offset_hi if manifest else -1
    rows = engine.table("snapshot").select(
        "repo", "path", "last_offset", "content_sha256").collect()
    actual = {tuple(r) for r in rows}
    bad = gen.snapshot_mismatches(actual, gen.lww_oracle(events, hi))
    out.op(bad == 0 and len(rows) == len(actual),
           f"snapshot: {bad} rows differ from the LWW oracle")
    if name == "email_replay":
        for t in ("messages", "attachments", "calendar_entries"):
            out.op(engine.table(t).limit(1).count() == 1, f"{t} is empty")
        out.op(any(r.hot_repos for r in results), "no batch salted a hot repo")


def _folded(commit_span) -> bool:
    """The commit compacted the sink (its manifest starts a new delta run)."""
    manifest = commit_span.attrs.get("result")
    return manifest is not None and manifest.delta_depth == 0


def _dir_bytes(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# --- a run -------------------------------------------------------------------


def run(name: str, seed: int, seconds: float, traced: bool, work: str,
        ctx: dict) -> Outcome:
    """One run of workload ``name``.  The Spark session it starts is left
    running: the caller stops it, on every way out."""
    shape = SHAPES[name]
    out = Outcome()
    n_batches = shape.n_batches(seconds)
    log_dir = os.path.join(work, "log")
    t0 = time.perf_counter()
    events = _write_log(log_dir, seed, shape, n_batches)
    out.context.update(generate_s=time.perf_counter() - t0, events=len(events),
                       batches=n_batches, batch_events=shape.batch,
                       keys=shape.n_keys, compact_every=shape.compact_every)

    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = host.start_session()
        session_s = time.perf_counter() - t0
        _warm_up(spark, shape, seed, work)
        setup_s = time.perf_counter() - t0
        out.context.update(session_s=session_s, warmup_s=setup_s - session_s,
                           host_factor=host.canary_s(spark))

        tracer = tracing.Tracer()
        engine = _engine(spark, os.path.join(work, "sink"), shape.compact_every,
                         tracer)
        entry = "streaming.drain" if shape.stream else "engine.replay"
        log_cpu_s = tracing.event_log_cpu_s(spark) if traced else 0.0
        ticks = host.cpu_ticks()
        with tracer.span("run") as run_span, tracer.span(entry):
            try:
                _apply(spark, shape, engine, log_dir, os.path.join(work, "ckpt"),
                       shape.batch)
            except Exception as exc:  # noqa: BLE001 - a failed run is a result
                out.problems.append(f"{entry}: {exc!r}")
        out.context["steal_share"] = host.steal_share(ticks, host.cpu_ticks())
        if traced:
            log_cpu_s = tracing.event_log_cpu_s(spark) - log_cpu_s
        results = [s.attrs["result"] for s in tracer.named("engine.apply_batch")
                   if s.attrs.get("result") is not None]
        reads = _read_tables(engine, tracer, shape.read_passes)
    for r in results:
        out.op(True, "")
    wall_s = run_span.dur_s
    applied = sum(r.event_count for r in results)
    batches = tracer.named("engine.apply_batch")
    batch_times = [s.dur_s for s in batches]
    # a batch that folded the sink costs several plain ones; folds show in
    # throughput_per_s and sink.compaction_s, the p50 is over plain batches
    folded = {c.parent for c in tracer.named("sink.commit") if _folded(c)}
    plain = [s.dur_s for s in batches if s.id not in folded]
    out.metrics = {
        "setup_s": setup_s,
        "throughput_per_s": applied / wall_s,
        "op_s_p50": statistics.median(plain) if plain else wall_s,
        "read_s": sum(reads.values()),
        "peak_py_rss_mb": rss.peak_py_kb / 1024,
    }
    out.context.update(run_wall_s=wall_s, batch_s=batch_times,
                       peak_rss_mb=rss.peak_kb / 1024,
                       batch_event_counts=[r.event_count for r in results])
    _check(name, engine, events, results, out)
    if traced:
        out.layers = layers(engine, tracer, run_span, ctx, work, reads, applied,
                            log_dir)
        out.layers["trace.overhead_s"] = log_cpu_s
        out.layers.update(
            stream_base(spark, shape, log_dir, work, n_batches, applied / wall_s)
            if shape.stream else
            dict.fromkeys(("streaming.stream_events_per_s",
                           "streaming.batch_events_per_s",
                           "streaming.stream_vs_batch"), 0.0))
    return out


def layers(engine, tracer: tracing.Tracer, run_span, ctx: dict, work: str,
           reads: dict, applied: int, log_dir: str) -> dict:
    log = tracing.parse_event_log(_event_log(work))
    spans = tracer.spans
    tracing.assign_jobs(log, spans)
    in_run = [j for j in log.jobs.values()
              if run_span.start <= j.submit <= run_span.end]
    batches = tracer.named("engine.apply_batch")
    commits = tracer.named("sink.commit")
    batch_ids = {s.id for s in batches}
    # jobs the engine itself submits: inside apply_batch, outside commit
    engine_jobs = [j for j in in_run if j.span in batch_ids]
    meta = [j for j in engine_jobs if j.kind != "extract"]
    compacted = [s for s in commits if _folded(s)]
    files, out_bytes = _dir_bytes(os.path.join(engine.sink.root, "data"))
    _, in_bytes = _dir_bytes(log_dir)
    st = tracing.self_times(spans)
    entry = next(s for s in spans if s.parent == run_span.id)
    out = {
        "engine.batch_self_s": sum(s.dur_s for s in batches)
        - sum(s.dur_s for s in commits),
        "engine.metadata_jobs_per_batch": len(meta) / max(1, len(batches)),
        "engine.metadata_s": tracing.union_s(meta),
        "engine.input_bytes_per_event": sum(
            t.input_bytes for t in log.tasks_of(engine_jobs)) / max(1, applied),
        "sink.commit_s": sum(s.dur_s for s in commits),
        "sink.compactions": len(compacted),
        "sink.compaction_s": sum(s.dur_s for s in compacted),
        "sink.delta_depth": engine.sink.read_manifest().delta_depth,
        "sink.files": files,
        "sink.bytes_written_per_input_byte": out_bytes / max(1, in_bytes),
        "extract.failure_rows": engine.table("failures").count(),
        # the run span holds only the entry span, whose own time is the
        # replay loop or the streaming front end: named-layer self time
        # is the run minus the run span's own (unattributed) time
        "trace.attributed_share": 1 - st[run_span.id] / run_span.dur_s,
    }
    out.update({f"sink.read_s.{t}": v for t, v in reads.items()})
    out.update(tracing.udf_metrics(log, engine_jobs, ctx["cores"]))
    out.update(tracing.spark_metrics(log, in_run, run_span.dur_s, ctx["cores"]))
    # the streaming layer is idle on a replay: its metrics read 0 there
    stream = entry.name == "streaming.drain"
    out["streaming.epochs"] = len(batches) if stream else 0
    out["streaming.overhead_s"] = st[entry.id] if stream else 0.0
    return out


def stream_base(spark, shape: Shape, log_dir: str, work: str, n_batches: int,
                stream_eps: float) -> dict:
    """Batch base of stream_vs_batch: the same log replayed through
    ``CdcEngine.replay`` at the epoch size into a fresh sink, in the same
    session after the drain."""
    base = _engine(spark, os.path.join(work, "sink_batch"), shape.compact_every,
                   tracing.Tracer())
    t0 = time.perf_counter()
    base.replay(spark.read.parquet(log_dir), batch_size=shape.batch)
    batch_eps = n_batches * shape.batch / (time.perf_counter() - t0)
    return {"streaming.stream_events_per_s": stream_eps,
            "streaming.batch_events_per_s": batch_eps,
            "streaming.stream_vs_batch": stream_eps / batch_eps}


def _event_log(work: str) -> str:
    d = os.path.join(work, "eventlog")
    logs = [os.path.join(d, f) for f in os.listdir(d)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {len(logs)}")
    return logs[0]
