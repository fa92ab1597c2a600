"""emailcdc benchmark: one workload, one run, one JSON line.

    python3 cdcbench/run.py --workload email_replay --seed 1 --seconds 20 --trace 0

Run it from the repository root.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The lines before it repeat every metric as ``name value unit`` and give
the host context of the run.  Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("email_replay", "churn_stream")

LANG_SAMPLE = ("eml", "mbox", "ics", "py")


def metric_units(traced: bool) -> dict:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if traced else "end_to_end"]}


def extract_us_per_event(seed: int) -> dict:
    """Single-thread ``extract_event`` cost per lang over seeded payloads."""
    import gen
    from emailcdc.extract import extract_event
    out = {}
    for lang in LANG_SAMPLE:
        docs = [gen.content(seed, lang, k, 0) for k in range(200)]
        passes = []
        for _ in range(3):
            t0 = time.perf_counter()
            for k, doc in enumerate(docs):
                extract_event("r", f"p{k}.{lang}", k, "c", lang, doc)
            passes.append((time.perf_counter() - t0) / len(docs) * 1e6)
        out[f"extract.us_per_event.{lang}"] = statistics.median(passes)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import host
    import workloads

    # every process the run starts, orphans included, is stopped and
    # waited for before it exits, whichever way it exits (SIGTERM too)
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".cdcbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        shutil.rmtree(work, ignore_errors=True)
        ctx = host.prepare_env(ROOT, work,
                               os.path.join(work, "eventlog") if traced else None)
        ctx["first_touch_gbps"] = host.first_touch_gbps()
        out = workloads.run(args.workload, args.seed, args.seconds, traced,
                            work, ctx)
        if traced:
            out.layers.update(extract_us_per_event(args.seed))
    finally:
        host.stop_session()
        shutil.rmtree(work, ignore_errors=True)

    units = metric_units(traced)
    values = {name: float((out.layers if traced else out.metrics)[name])
              for name in units}
    ctx.update(out.context)
    for name, unit in units.items():
        print(f"{name} {values[name]:.6g} {unit}")
    print(f"failed_ratio {out.failed / max(1, out.attempted):.6g} ratio")
    for p in out.problems:
        print(f"problem {p}")
    print("context " + json.dumps(ctx, sort_keys=True))
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
