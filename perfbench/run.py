"""parqueryd_spark benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The process starts Spark, builds its
inputs from ``--seed`` several times, warms up where the workload calls
for it (``setup_s`` is process start to the first measured op, with the
repeated input set-up counted once, at its median), then drives the
workload as a closed loop with one client for at least ``--seconds`` and
whole schedule cycles.
Every result is checked for correctness after the measured window. The
last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

carrying the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate run whose ops alternate traced and untraced, so
the trace overhead is measured on equal work). The full record — every op,
span, calibration sample and failed check — goes to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics every workload reports with tracing off: name -> unit
E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
}

#: per-layer metrics every workload reports with tracing on: name -> unit.
#: A layer a workload never calls reads 0 there.
PER_LAYER = {
    "core.build_s": "s",
    "core.build_jobs": "count",
    "functions.compile_s": "s",
    "sources.resolve_s": "s",
    "sources.files_found_ratio": "ratio",
    "sources.manifest.prune_s": "s",
    "sources.manifest.files_kept_ratio": "ratio",
    "sources.sinks.publish_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.substring_s": "s",
    "operators.lm.score_s": "s",
    "operators.similarity.ann_s": "s",
    "operators.dedup.dup_recall": "ratio",
    "operators.similarity.recall_at_k": "ratio",
    "streaming.read_s.kmv": "s",
    "streaming.read_s.countmin": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_share": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.storage_bytes_at_start": "bytes",
    "trace.overhead_ratio": "ratio",
    "process.peak_rss_mb": "MB",
}

WORKLOADS = ("serve", "curate")

#: one calibration sample after every this many loop steps
CALIB_EVERY = 5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs for the benchmark's own tests; not a measurement")
    return p.parse_args(argv)


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process started."""
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def load_workload(name: str, h, tracer):
    if name == "serve":
        from perfbench.serve import Serve as W
    else:
        from perfbench.curate import Curate as W
    return W(h, tracer)


def measure(h, wl, tracer) -> list[dict]:
    """The closed loop: one client, next step only after the previous one
    returned, until ``--seconds`` have passed and the workload's schedule
    cycle (``wl.cycle`` steps) is complete, so every run measures the same
    mix of op kinds. With tracing on, every step runs twice — once traced,
    once not — untraced first in the first half of each cycle, traced first
    in the second — so ``trace.overhead_ratio`` compares equal work."""
    from perfbench.harness import cpu_times

    first = len(tracer.ops)
    half = max(1, wl.cycle // 2)
    h.calib()
    cpu0 = cpu_times()
    t_end = time.perf_counter() + h.seconds
    i = 0
    while True:
        lanes = (False,) if not h.trace else ((False, True) if (i // half) % 2 == 0 else (True, False))
        for traced in lanes:
            n_ops = len(tracer.ops)
            try:
                wl.step(i, traced)
            except Exception as e:  # noqa: BLE001 - an op that raised is counted as failed
                if len(tracer.ops) == n_ops:
                    raise  # the benchmark itself failed before the op started
                tracer.ops[-1]["error"] = "".join(traceback.format_exception_only(e)).strip()[-500:]
        i += 1
        if i % CALIB_EVERY == 0:
            h.calib()
        if time.perf_counter() >= t_end and i % wl.cycle == 0:
            break
    steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
    h.steal_share = steal / total if total else 0.0
    h.calib()
    return tracer.ops[first:]


def engine_layers(h, tracer, ops, status) -> dict:
    """Per-layer values shared by every workload: the wrapped program calls
    and the Spark counters of each traced op."""
    from perfbench.harness import median

    traced = [o for o in ops if o["traced"]]
    out = {}
    builds = tracer.spans_named("core.groupby", "core.sql")
    if builds:
        out["core.build_s"] = median([s["end"] - s["start"] for s in builds])
        build_ops = {s["op"] for s in builds}
        out["core.build_jobs"] = sum(
            status.totals([f"perfbench:op{op}:build"])["jobs"] for op in build_ops
        ) / len(build_ops)

    def per_op(spans) -> float:
        by_op: dict[int, float] = {}
        for s in spans:
            if s["parent"] is None or tracer.spans[s["parent"]]["layer"] != s["layer"]:
                by_op[s["op"]] = by_op.get(s["op"], 0.0) + s["end"] - s["start"]
        return sum(by_op.values()) / len(by_op)

    compile_spans = [s for s in tracer.spans if s["layer"] == "functions"]
    if compile_spans:
        out["functions.compile_s"] = per_op(compile_spans)
    resolve = tracer.spans_named("sources.resolve_paths")
    if resolve:
        out["sources.resolve_s"] = per_op(resolve)
        out["sources.files_found_ratio"] = sum(s["found"] for s in resolve) / max(
            1, sum(s["requested"] for s in resolve)
        )
    prune = tracer.spans_named("sources.manifest.prune_paths")
    if prune:
        out["sources.manifest.prune_s"] = median([s["end"] - s["start"] for s in prune])
        out["sources.manifest.files_kept_ratio"] = sum(s["files_kept"] for s in prune) / max(
            1, sum(s["files_in"] for s in prune)
        )
    publish = tracer.spans_named("sources.sinks.atomic_publish")
    if publish:
        out["sources.sinks.publish_s"] = median([s["end"] - s["start"] for s in publish])
        out["sources.sinks.bytes_written"] = sum(s["bytes"] for s in publish) / len(publish)

    totals = [status.totals(o["groups"]) for o in traced]
    n = max(1, len(traced))
    for field in status.FIELDS:
        out[f"spark.{field}"] = sum(t[field] for t in totals) / n
    wall = sum(o["wall_s"] for o in traced)
    out["spark.busy_share"] = sum(t["task_run_s"] for t in totals) / (wall * h.cores) if wall else 0.0
    out["spark.storage_bytes_at_start"] = max((o["storage_bytes_at_start"] for o in traced), default=0)
    plain = sum(o["wall_s"] for o in ops if not o["traced"])
    out["trace.overhead_ratio"] = wall / plain if plain else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import parqueryd_spark  # noqa: F401  - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.harness import Harness, StatusReader, median
    from perfbench.tracing import Tracer

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    h = Harness(ROOT, tag, args.seed, args.seconds, bool(args.trace), args.smoke)
    try:
        h.open()
        log(f"spark session up in {h.session_start_s:.2f}s")
        tracer = Tracer(h)
        wl = load_workload(args.workload, h, tracer)
        setup_times, envs = [], []
        for rep in range(wl.size["setup_reps"]):
            t0 = time.perf_counter()
            envs.append(wl.setup(rep))
            setup_times.append(time.perf_counter() - t0)
        log("set-up x{}: {}".format(len(setup_times), ", ".join(f"{t:.2f}s" for t in setup_times)))
        t0 = time.perf_counter()
        wl.prepare(envs)
        warm_s = time.perf_counter() - t0
        log(f"warm-up {warm_s:.2f}s")
        if h.trace:
            wl.instrument()
        # process start -> first measured op (interpreter, Spark session,
        # input set-up, warm-up), with the repeated input set-up counted
        # once, at its median
        setup_s = time.perf_counter() - T_START - sum(setup_times) + median(setup_times)
        log(f"setup_s {setup_s:.2f}s")
        ops = measure(h, wl, tracer)
        tracer.unwrap()
        log(f"measured {len(ops)} ops in {sum(o['wall_s'] for o in ops):.2f}s")
        peak_rss = h.peak_rss_mb()
        t0 = time.perf_counter()
        wl.check(ops)
        check_s = time.perf_counter() - t0
        log(f"checked in {check_s:.2f}s")
        plain = [o for o in ops if not o["traced"]]

        failed = [o for o in ops if not o["ok"]]
        for o in failed[:5]:
            log(f"op {o['op']} ({o['name']}) failed: {o.get('error')}")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": h.cores, "session_start_s": h.session_start_s,
            "setup_s": setup_s, "input_setup_s_samples": setup_times, "warm_s": warm_s, "check_s": check_s,
            "calib_samples": h.calib_samples, "cpu_steal_share": h.steal_share, "peak_rss_mb": peak_rss,
            "failures": [{"op": o["op"], "name": o["name"], "error": o.get("error")} for o in failed][:20],
            "ops": [{k: o[k] for k in ("op", "name", "traced", "ok", "wall_s")} for o in ops],
        }
        if h.trace:
            status = StatusReader(h.spark)
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(engine_layers(h, tracer, ops, status))
            values.update(wl.layers(ops))
            values["process.peak_rss_mb"] = peak_rss
            units = PER_LAYER
            record["spans"] = tracer.dump()
        else:
            values = {"setup_s": setup_s}
            extra = wl.e2e(plain)
            values.update({k: extra[k] for k in E2E if k in extra})
            units = E2E
            record["workload_metrics"] = extra
        record["metrics"] = values
        result = {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        os.makedirs(h.out_dir, exist_ok=True)
        with open(os.path.join(h.out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        h.close()
        log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
