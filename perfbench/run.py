#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|suite|ingest> --seed N \
        --seconds S --trace <0|1>

Run from the root of a source checkout. The first run builds the engine from
`src/main/scala` (and the benchmark's own engine-side classes from
`perfbench/engine`) into `.bench_build/`; later runs reuse that build while
the sources are unchanged. Each run works in a private directory under
`.bench_run/` (temp dir, Spark local dir, warehouse, Derby home, stream
checkpoints, generated tables) and deletes it on exit.

Stdout: one short record per metric, then, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones from BENCHMARK.json; with `--trace 1` the
run also records the engine's listener metrics and spans, prints a per-layer
table and reports the per-layer metrics. A wrong answer makes the exit code
non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import workloads  # noqa: E402
from engine_proc import EngineProcess  # noqa: E402

WORKLOADS = ("serve", "suite", "ingest")


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap_size() -> str:
    """Engine heap, sized as the tier-1 test command sizes it: half of RAM,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def overhead_records(root: Path, workload: str, result, traced: bool):
    """Untraced runs append their end-to-end values to a history in the
    checkout; a traced run reports its own values minus the median of that
    history: the tracing overhead."""
    hist = root / ".bench_history" / f"{workload}.jsonl"
    if not traced:
        hist.parent.mkdir(exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps(result.e2e) + "\n")
        return
    past = [json.loads(l) for l in hist.read_text().splitlines() if l] if hist.exists() else []
    for name, unit in workloads.E2E:
        if name not in result.e2e:
            continue
        result.record(f"traced.{name}", unit, result.e2e[name], 1)
        vals = [p[name] for p in past if isinstance(p.get(name), (int, float))]
        if vals:
            result.record(f"trace_overhead.{name}", unit,
                          result.e2e[name] - statistics.median(vals), len(vals))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        fail("run from the root of a source checkout (src/main/scala and build.sbt not found)")
    classpath = build.ensure(root)

    run_dir = root / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    engine = None

    def cleanup(*_):
        if engine is not None:
            engine.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (root / ".bench_run").rmdir()
        except OSError:
            pass

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        ctx = workloads.Context(
            root=root, run_dir=run_dir, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), cores=cores())

        def launch(extra_args=()):
            nonlocal engine
            engine = EngineProcess(
                classpath=classpath, heap=heap_size(), run_dir=run_dir,
                log_config=HERE / "log4j2.properties",
                args=[args.workload, str(ctx.data_dir), str(run_dir), str(ctx.cores),
                      str(args.trace), *extra_args])
            return engine

        result = workloads.RUNNERS[args.workload](ctx, launch)
    except workloads.InvalidRun as e:
        print(f"perfbench: invalid run, not scored: {e}", file=sys.stderr)
        cleanup()
        return 3
    except Exception:
        log = run_dir / "engine.log"
        if log.exists():
            tail = log.read_text(errors="replace")[-4000:]
            print(f"perfbench: engine log tail:\n{tail}", file=sys.stderr)
        cleanup()
        raise
    cleanup()
    workloads.progress("engine stopped")

    overhead_records(root, args.workload, result, bool(args.trace))
    metrics = result.metrics_for("per_layer" if args.trace else "end_to_end")
    for line in result.records:
        print(line)
    print(json.dumps({"correct": result.correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
