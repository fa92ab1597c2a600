"""Seeded change-event logs for the benchmark, and the LWW oracle that
checks the engine's final ``snapshot`` table without using the engine.

The seed reaches every part of the log the engine's cost depends on:

- payloads: the fixture builders (``make_eml``/``make_mbox``/``make_ics``)
  get a content sequence number drawn from the seed, and the message
  count of an mbox and the event/todo counts of an ics vary with it;
- keys: non-hot keys move between repos (``fixtures.key_fields``);
- ops: which keys end with a delete.

Offsets are laid out round-robin (event ``j`` is version ``j // n_keys``
of key ``j % n_keys``), so every offset-range batch sees the same key mix
and the same hot-repo share, and per-key order I < U... < D holds by
construction.  Logs are written with pyarrow, one row group per file and
files cut on offset boundaries, so a replay batch reads only its own files
and the streaming source can size epochs with ``maxFilesPerTrigger``.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from emailcdc import fixtures

ARROW_SCHEMA = pa.schema([
    pa.field("offset", pa.int64(), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
    pa.field("repo", pa.string(), nullable=False),
    pa.field("path", pa.string(), nullable=False),
    pa.field("commit", pa.string()),
    pa.field("lang", pa.string()),
    pa.field("content", pa.string()),
])


@dataclass(frozen=True)
class LogSpec:
    n_events: int
    n_keys: int
    langs: tuple
    hot_fraction: float = 0.0
    n_hot_repos: int = 2
    events_per_file: int = 1000


def _h(seed: int, *parts) -> int:
    text = "|".join(str(p) for p in (seed,) + parts)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def content(seed: int, lang: str, key: int, version: int) -> str:
    """Payload of ``version`` of ``key``: fixture builders fed a seeded
    content sequence, so two seeds give different bytes and shapes."""
    seq = _h(seed, key, version) % 1_000_000
    if lang == "eml":
        return fixtures.make_eml(seq, n_attachments=1 + seq % 2)
    if lang == "mbox":
        return fixtures.make_mbox(2 + seq % 4, start_seq=seq)
    if lang == "ics":
        return fixtures.make_ics(seq, n_events=1 + seq % 2, n_todos=seq % 2)
    return f"// {lang} source file\nint v{seq} = {seq};\n" * (1 + seq % 5)


def event(seed: int, spec: LogSpec, offset: int) -> dict:
    i = offset % spec.n_keys
    version = offset // spec.n_keys
    n_versions = (spec.n_events - i + spec.n_keys - 1) // spec.n_keys
    k = fixtures.key_fields(i, spec.n_keys, hot_fraction=spec.hot_fraction,
                            n_hot_repos=spec.n_hot_repos, seed=seed,
                            langs=spec.langs)
    if version == 0:
        op = "I"
    elif version == n_versions - 1 and _h(seed, "del", i) % 7 == 0:
        op = "D"
    else:
        op = "U"
    live = op != "D"
    return {
        "offset": offset,
        "op": op,
        "ts": fixtures.EPOCH + timedelta(seconds=offset),
        "repo": k["repo"],
        "path": k["path"],
        "commit": (hashlib.sha1(f"{seed}|{i}|{version}".encode()).hexdigest()
                   if live else None),
        "lang": k["lang"],
        "content": content(seed, k["lang"], i, version) if live else None,
    }


def write_log(root: str, seed: int, spec: LogSpec) -> list[dict]:
    """Write the log under ``root`` (one parquet file per
    ``events_per_file`` offsets) and return its events in offset order."""
    os.makedirs(root, exist_ok=True)
    events = [event(seed, spec, o) for o in range(spec.n_events)]
    for n, lo in enumerate(range(0, spec.n_events, spec.events_per_file)):
        chunk = events[lo:lo + spec.events_per_file]
        table = pa.Table.from_pylist(chunk, schema=ARROW_SCHEMA)
        pq.write_table(table, os.path.join(root, f"part-{n:05d}.parquet"),
                       row_group_size=len(chunk))
    return events


def lww_oracle(events: list[dict], offset_hi: int) -> set[tuple]:
    """Expected ``snapshot`` rows ``(repo, path, last_offset,
    content_sha256)`` after applying every event with offset <= offset_hi:
    last writer wins per key and a delete removes the key."""
    state: dict[tuple, tuple] = {}
    for ev in events:
        if ev["offset"] > offset_hi:
            break
        key = (ev["repo"], ev["path"])
        if ev["op"] == "D":
            state.pop(key, None)
        else:
            sha = hashlib.sha256(ev["content"].encode("utf-8")).hexdigest()
            state[key] = (ev["offset"], sha)
    return {(r, p, off, sha) for (r, p), (off, sha) in state.items()}


def snapshot_mismatches(actual: set[tuple], expected: set[tuple]) -> int:
    """Rows missing from, or extra in, the engine's snapshot."""
    return len(actual ^ expected)
