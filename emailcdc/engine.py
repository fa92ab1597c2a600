"""CdcEngine — micro-batch replay of a change-event log into the sink.

The Spark lifecycle of one batch (``apply_batch``), as named phases:

    events → [offset-range batch] → LWW winners (one ``max_by`` aggregate,
    concurrent with the raw-batch stats) → hot repos → parse input
    (semi-join of the batch on the winning offsets, salted repartition
    when hot repos exist) → ``mapInArrow`` extraction written once as the
    envelope → MERGE commit (marks + zero-copy envelope deltas, lineage
    rows)

Exactly-once: ``snapshot_id == batch_id`` is monotone; a batch whose id is
≤ the sink's CURRENT pointer is skipped idempotently, and resume reads
``offset_hi + 1`` from the CURRENT manifest — so the engine can be killed
and restarted at any point (crash before the pointer flip leaves only
orphan files; the batch reruns deterministically).

Skew handling (north rule): hot repos are detected per batch from the
cached winners' per-key event counts; events of hot repos get a salt
derived from ``(path, offset)`` so one giant repo spreads over
``N_SALTS`` partitions during the (CPU-heavy) parse stage, then the salt
is dropped — the MERGE stays key-correct because bucketing is on
(repo, path).

At 10^10-event scale nothing here is driver-bound: per-batch collects are
O(#partitions × #op kinds + #above-threshold hot repos) — the hot-repo
threshold is applied executor-side, so a long-tail repo distribution never
ships its tail to the driver.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from . import schemas
from .extract import validate_missing_field_config
from .sink import EnvelopedDir, SnapshotParquetSink
from .udfs import ENVELOPE, extract_envelope

KEY = ["repo", "path"]
# partitions one hot repo's events spread over during the parse
N_SALTS = 8
# envelope record type → the keyed table it is the delta of
PAYLOAD_TABLES = {"snapshot": "snapshot", "message": "messages",
                  "attachment": "attachments", "calendar": "calendar_entries"}
# unwrapped table schema (struct fields + _seq) per record type — known
# statically, so commit's schema checks need no file IO
ENV_SCHEMAS = {
    f.name: StructType(list(f.dataType.fields)
                       + [StructField("_seq", LongType(), False)])
    for f in ENVELOPE.fields if f.name != "record_type"
}


@dataclass
class BatchResult:
    batch_id: int
    offset_lo: int
    offset_hi: int
    event_count: int
    upsert_count: int
    delete_count: int
    skipped: bool = False
    hot_repos: tuple = ()


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        sink: SnapshotParquetSink,
        *,
        error_strategy: str = "continue",
        missing_field_strategy: str = "empty",
        missing_field_substitution: str | None = None,
        hot_key_fraction: float = 0.2,
        hot_key_min: int = 64,
        broadcast_key_limit: int | None = None,
        folder_expression: str | None = None,
    ):
        validate_missing_field_config(missing_field_strategy, missing_field_substitution)
        self.spark = spark
        self.sink = sink
        self.error_strategy = error_strategy
        self.missing_field_strategy = missing_field_strategy
        self.missing_field_substitution = missing_field_substitution
        self.hot_key_fraction = hot_key_fraction
        self.hot_key_min = hot_key_min
        # past this many events per batch, the LWW semi-join and the sink's
        # compaction folds fall back from broadcast to shuffle joins — a
        # 10^7-key broadcast built on the driver is a scale-killer.
        # None (default) adopts the sink's configured limit; an explicit
        # value propagates to the sink so both stages agree (ADVICE r2:
        # the old unconditional overwrite clobbered a caller-configured
        # sink limit even when the engine arg was left at its default)
        if broadcast_key_limit is None:
            self.broadcast_key_limit = sink.broadcast_key_limit
        else:
            self.broadcast_key_limit = broadcast_key_limit
            sink.broadcast_key_limit = broadcast_key_limit
        # FOLDER_IDENTIFIER (AbstractJavaMailProcessor.java:58-67): a Spark
        # SQL expression over event columns deriving the message folder
        self.folder_expression = folder_expression

    # --- checkpoint/resume ----------------------------------------------------

    def next_offset(self) -> int:
        manifest = self.sink.read_manifest()
        return (manifest.offset_hi + 1) if manifest else 0

    def next_batch_id(self) -> int:
        manifest = self.sink.read_manifest()
        return (manifest.batch_id + 1) if manifest else 1

    def last_epoch(self, stream_id: str | None = None) -> int | None:
        """Highest streaming epoch applied to this sink (stream-idempotence
        watermark, independent of batch/snapshot ids).

        Epoch ids only mean something within one checkpoint lineage: when
        ``stream_id`` (the checkpoint's query id) differs from the one the
        manifest recorded, the watermark belongs to ANOTHER stream and
        returns None — a cleared checkpoint restarts epochs at 0 and must
        not be silently skipped (ADVICE r2).  A manifest that predates the
        stream_id field is likewise UNOWNED for a stream-aware caller: its
        legacy watermark must not drop the fresh checkpoint's epochs
        (which restart at 0); the next commit stamps the new stream_id and
        claims it (ADVICE r3).  Only a legacy caller (stream_id=None)
        keeps the old global-watermark behavior.

        Documented trade-off (ADVICE r4): when the SAME stream's
        checkpoint survives an engine upgrade from the pre-stream_id
        format, one in-flight epoch — committed to the sink but not yet
        to the checkpoint at upgrade time — is re-delivered on restart
        and re-applied (last_epoch reads None for the unowned manifest).
        The manifest cannot distinguish that upgrade from a fresh stream
        attaching to an old sink, and silently dropping a fresh stream's
        epoch 0..N is permanent data loss, so the unowned reading is the
        safe default; re-applying an upsert epoch is idempotent at the
        row level (same keys, same _seq ordering) but appends duplicate
        lineage/failure rows for that one epoch."""
        manifest = self.sink.read_manifest()
        if manifest is None:
            return None
        if stream_id is not None and manifest.stream_id != stream_id:
            return None
        return manifest.last_epoch

    # --- one micro-batch --------------------------------------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    offset_lo: int | None = None,
                    offset_hi: int | None = None,
                    epoch: int | None = None,
                    stream_id: str | None = None) -> BatchResult:
        """Apply one micro-batch as snapshot ``batch_id``; a batch id the
        sink already holds is skipped.  ``epoch``/``stream_id`` carry the
        streaming watermark into the manifest."""
        current = self.sink.current_snapshot_id()
        if current is not None and batch_id <= current:
            return BatchResult(batch_id, offset_lo, offset_hi, 0, 0, 0, skipped=True)
        win_meta = self._winners(batch)
        try:
            result, lineage_rows = self._stats(batch, win_meta, batch_id)
            # the replay path passes its offset range; the streaming path
            # takes the batch's own bounds
            if offset_lo is not None:
                result.offset_lo = offset_lo
            if offset_hi is not None:
                result.offset_hi = offset_hi
            result.hot_repos = self._hot_repos(win_meta, result.event_count)
            parse_input = self._parse_input(batch, win_meta, result)
            stage_dir, type_counts = self._stage_envelope(parse_input, batch_id)
            self._commit(result, lineage_rows, win_meta, stage_dir, type_counts,
                         epoch, stream_id)
            return result
        finally:
            # a failed commit leaves the envelope dir as an orphan — it is
            # permanent data once the manifest references it, so cleanup
            # belongs to vacuum(), not to this code path
            win_meta.unpersist()

    # --- the phases of apply_batch ----------------------------------------------

    @staticmethod
    def _winners(batch: DataFrame) -> DataFrame:
        """LWW winners metadata, persisted: ONE groupBy gives each key's
        winning offset (the semi-join side), the winner's op (the delete
        mark, via ``max_by(op, offset)``) and the key's event count (the
        hot-repo input).  Only key + offset + 1-char op are cached; winner
        CONTENT flows straight from the parquet scan into extraction
        exactly once."""
        return (
            batch.groupBy(*KEY)
            .agg(F.max("offset").alias("offset"),
                 F.max_by("op", "offset").alias("op"),
                 F.count(F.lit(1)).alias("_n_events"))
            .persist()
        )

    @staticmethod
    def _stats(batch: DataFrame, win_meta: DataFrame,
               batch_id: int) -> tuple[BatchResult, list[dict]]:
        """Raw-batch stats (reads only offset/op — the parquet scan prunes
        content): event and op counts, offset bounds and the per-partition
        lineage rows (north rule).  The driver receives O(#partitions ×
        #op kinds) rows, whatever the key cardinality.  The stats collect
        and the winners materialization are independent jobs over the same
        scan, submitted concurrently so the second back-fills executors the
        first leaves idle."""
        with ThreadPoolExecutor(max_workers=2) as pool:
            stats_fut = pool.submit(
                lambda: batch.groupBy(
                    F.spark_partition_id().alias("partition_id"), "op")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.min("offset").alias("min_offset"),
                    F.max("offset").alias("max_offset"),
                )
                .collect())
            win_fut = pool.submit(win_meta.count)
            stat_rows = stats_fut.result()
            win_fut.result()
        per_partition: dict[int, list] = {}
        op_totals: dict[str, int] = {}
        for r in stat_rows:
            agg = per_partition.setdefault(int(r["partition_id"]), [0, None, None])
            agg[0] += r["rows"]
            agg[1] = r["min_offset"] if agg[1] is None else min(agg[1], r["min_offset"])
            agg[2] = r["max_offset"] if agg[2] is None else max(agg[2], r["max_offset"])
            op_totals[r["op"]] = op_totals.get(r["op"], 0) + r["rows"]
        lineage_rows = [
            {"batch_id": batch_id, "partition_id": pid, "rows": agg[0],
             "min_offset": agg[1], "max_offset": agg[2]}
            for pid, agg in sorted(per_partition.items())
        ]
        result = BatchResult(
            batch_id,
            offset_lo=min((a[1] for a in per_partition.values()), default=0),
            offset_hi=max((a[2] for a in per_partition.values()), default=-1),
            event_count=sum(op_totals.values()),
            upsert_count=op_totals.get("I", 0) + op_totals.get("U", 0),
            delete_count=op_totals.get("D", 0),
        )
        return result, lineage_rows

    def _hot_repos(self, win_meta: DataFrame, event_count: int) -> tuple:
        """Repos holding more than ``hot_key_fraction`` of the batch (and
        at least ``hot_key_min`` events).  Per-repo counts fold up from the
        cached winners (every event has one key, every key one repo), and
        the threshold is applied executor-side, so the driver receives
        only the repos above it.  No job when no repo can clear it."""
        threshold = max(self.hot_key_min, int(event_count * self.hot_key_fraction))
        if event_count <= threshold:
            return ()
        return tuple(
            r["repo"]
            for r in win_meta.groupBy("repo")
            .agg(F.sum("_n_events").alias("c"))
            .filter(F.col("c") > threshold)
            .collect())

    def _parse_input(self, batch: DataFrame, win_meta: DataFrame,
                     result: BatchResult) -> DataFrame:
        """The winning upsert events, partitioned for the parse.

        LWW dedup is a semi-join of the batch on the winning offsets, so
        the multi-KB content column is never shuffled.  The offsets are
        broadcast only while the key set is driver-sized: the event count
        bounds the winner count, and past ``broadcast_key_limit`` the
        semi-join runs as a shuffle join.  Without hot repos the parse
        inherits the scan partitioning; with them, hot-repo events get an
        offset-derived salt and an explicit repartition so one giant repo
        spreads over ``N_SALTS`` partitions."""
        win_offs = win_meta.select("offset")
        win_side = (F.broadcast(win_offs)
                    if result.event_count <= self.broadcast_key_limit else win_offs)
        upserts = (batch.join(win_side, on="offset", how="leftsemi")
                   .filter(F.col("op") != "D"))
        if not result.hot_repos:
            return upserts
        salt = F.when(
            F.col("repo").isin(list(result.hot_repos)),
            F.pmod(F.xxhash64("path", "offset"), F.lit(N_SALTS)),
        ).otherwise(F.lit(0))
        return (upserts.withColumn("_salt", salt)
                .repartition(self.spark.sparkContext.defaultParallelism,
                             "repo", "_salt")
                .drop("_salt"))

    def _stage_envelope(self, parse_input: DataFrame,
                        batch_id: int) -> tuple[str, dict]:
        """Parse once and write the envelope to the batch's stage dir; that
        write IS the delta of every payload table — the sink registers the
        dir per record type (EnvelopedDir), so the multi-KB payload hits
        disk exactly once per batch.  The write is FLAT (record_type stays
        a data column): per-type reads prune by that column and parquet
        column pruning instead of a partitionBy sort.  Per-type row counts
        ride the same write action as an Observation (no extra job).  A
        crashed commit leaves only an orphan stage dir; vacuum() removes
        it."""
        envelope = extract_envelope(
            parse_input, self.error_strategy,
            self.missing_field_strategy, self.missing_field_substitution,
            folder_expression=self.folder_expression,
        ).withColumn("_seq", F.lit(batch_id).cast("long"))
        stage_dir = os.path.join(self.sink.root, "data", "_envelope",
                                 f"batch-{batch_id}")
        obs = Observation()
        envelope.observe(obs, *[
            F.count(F.when(F.col("record_type") == rt, 1)).alias(rt)
            for rt in (*PAYLOAD_TABLES, "failure")
        ]).write.mode("overwrite").parquet(stage_dir)
        return stage_dir, obs.get

    def _commit(self, result: BatchResult, lineage_rows: list[dict],
                win_meta: DataFrame, stage_dir: str, type_counts: dict,
                epoch: int | None, stream_id: str | None) -> None:
        """MERGE-commit the batch: the stage dir registered zero-copy as
        the delta of each record type present in it, one mark per key
        (the winner's op decides the delete flag — read off the cached
        winners, no extra scan) and the lineage rows."""
        def enveloped(record_type: str) -> EnvelopedDir:
            return EnvelopedDir(stage_dir, record_type,
                                where=f"record_type = '{record_type}'",
                                schema=ENV_SCHEMAS[record_type])

        present = [rt for rt, n in type_counts.items() if n > 0]
        self.sink.commit(
            batch_id=result.batch_id,
            offset_lo=result.offset_lo,
            offset_hi=result.offset_hi,
            upserts={PAYLOAD_TABLES[rt]: enveloped(rt)
                     for rt in present if rt in PAYLOAD_TABLES},
            appends=({"failures": enveloped("failure")}
                     if "failure" in present else {}),
            append_rows={"lineage": (lineage_rows, schemas.LINEAGE)},
            stats={"event_count": result.event_count,
                   "upsert_count": result.upsert_count,
                   "delete_count": result.delete_count,
                   "hot_repos": list(result.hot_repos)},
            marks=win_meta.select(
                *KEY, F.lit(result.batch_id).cast("long").alias("_seq"),
                (F.col("op") == "D").alias("is_delete")),
            epoch=epoch,
            stream_id=stream_id,
            approx_batch_keys=result.event_count,
        )

    # --- full replay --------------------------------------------------------------

    def replay(self, events: DataFrame, *, batch_size: int = 10_000,
               max_batches: int | None = None) -> list[BatchResult]:
        """Replay an offset-ordered change log in micro-batches, resuming
        from the sink's checkpoint.  ``events`` must carry a dense-ish
        monotone ``offset`` column; batching is by offset range (the static
        analog of maxOffsetsPerTrigger)."""
        max_offset_row = events.agg(F.max("offset").alias("m")).collect()[0]
        max_offset = max_offset_row["m"]
        if max_offset is None:
            return []
        results: list[BatchResult] = []
        lo = self.next_offset()
        batch_id = self.next_batch_id()
        n = 0
        while lo <= max_offset:
            hi = lo + batch_size - 1
            batch = events.filter((F.col("offset") >= lo) & (F.col("offset") <= hi))
            results.append(self.apply_batch(batch, batch_id, lo, hi))
            lo = hi + 1
            batch_id += 1
            n += 1
            if max_batches is not None and n >= max_batches:
                break
        return results

    # --- convenience readers ---------------------------------------------------

    def table(self, name: str) -> DataFrame:
        df = self.sink.read_table(name)
        if df is None:
            schema = {
                "snapshot": "repo string, path string, commit string, lang string,"
                            " content_sha256 string, last_offset long",
            }.get(name)
            if schema:
                return self.spark.createDataFrame([], schema)
            mapping = {
                "messages": schemas.MESSAGES,
                "attachments": schemas.ATTACHMENTS,
                "calendar_entries": schemas.CALENDAR_ENTRIES,
                "failures": schemas.FAILURES,
                "lineage": schemas.LINEAGE,
            }
            return self.spark.createDataFrame([], mapping[name])
        return df.drop("_bucket") if "_bucket" in df.columns else df
