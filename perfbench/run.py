"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_scan --seed 1 --seconds 15 --trace 0

Run from the checkout root. It prepares the workload's inputs for the seed
(cached), sets up three times (the first from process start, each
opening the input and running one full-size warm-up op), runs a closed loop of timed ops for
``--seconds``, checks every op's output against the DuckDB oracle, and
prints a summary and, as the last line, one JSON object: the end-to-end
metrics for ``--trace 0``, the per-layer metrics for ``--trace 1``.
See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
SETUPS = 3  # set-ups per run; setup_s is their median
DEADLINE_S = 170  # a run must end within 180 s


def percentile_with_tail(values: list[float], p: float, tail: int = 10):
    """The p-th percentile of ``values``, or None when fewer than ``tail``
    samples lie beyond it."""
    if len(values) < 2:
        return None
    q = statistics.quantiles(values, n=100, method="inclusive")[round(p * 100) - 1]
    return q if sum(v > q for v in values) >= tail else None


def _check_checkout() -> None:
    """Exit unless sparkcheck is importable from this checkout."""
    import importlib.util

    sys.path.insert(0, str(ROOT))
    spec = importlib.util.find_spec("sparkcheck")
    if spec is None or not spec.origin or not Path(spec.origin).is_relative_to(ROOT):
        sys.exit(f"sparkcheck is not in {ROOT}; run from a full checkout")


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["corpus_scan", "checkpoint_run", "microbatch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    _check_checkout()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    from perfbench import inputs, sparkenv
    from perfbench.tracing import Op, Recorder
    from perfbench.workloads import WORKLOADS

    steal0 = sparkenv.steal_ticks()
    WORK.mkdir(exist_ok=True)
    sparkenv.confine_tmp(WORK)
    t = time.monotonic()
    inputs.ensure_pool(WORK, ROOT)
    data = inputs.prepare(WORK, args.workload, args.seed)
    prep_s = time.monotonic() - t

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / tag
    event_dir = run_dir / "events" if args.trace else None
    recorder = Recorder()
    wl = WORKLOADS[args.workload](data, run_dir / "stores", recorder)

    setups = []
    spark = None
    t_first = time.monotonic()
    try:
        spark = sparkenv.build_session(WORK, event_dir)
        for i in range(SETUPS):
            t = t_first if i == 0 else time.monotonic()
            wl.open(spark)
            for j in range(wl.WARM_OPS):
                wl.warm(i * wl.WARM_OPS + j)
            setups.append(time.monotonic() - t)
        # the first set-up runs from process start, less input generation
        setups[0] += t_first - T_PROCESS - prep_s
        if args.trace:
            recorder.sc = spark.sparkContext
            recorder.install()

        jvm = sparkenv.jvm_pid()
        cpu0 = sparkenv.cpu_ticks(os.getpid()) + sparkenv.cpu_ticks(jvm)
        t_w0 = time.monotonic()
        # a step (one op; one runner.run of several ops for checkpoint_run)
        # starts while it is expected to end by --seconds, give or take half
        # a step, so the window does not grow by a whole step on a fast host
        step_s = 0.0
        while (len(wl.ops) < wl.MIN_OPS and not wl.checks) or (
            time.monotonic() - t_w0 + step_s / 2 < args.seconds
        ):
            t = time.time()
            try:
                wl.step()
            except Exception as e:  # noqa: BLE001 — an op that raises failed
                wl.checks.append(Op(-1, t, time.time(), 0, repr(e)))
            step_s = time.time() - t
        window_s = time.monotonic() - t_w0
        cpu_s = (
            sparkenv.cpu_ticks(os.getpid()) + sparkenv.cpu_ticks(jvm) - cpu0
        ) / sparkenv.CLK_TCK
        recorder.uninstall()
        wl.finish()
        app_id = spark.sparkContext.applicationId
    finally:
        recorder.uninstall()
        if spark is not None:
            sparkenv.shutdown_jvm(spark)
    signal.alarm(0)
    steal_s = (sparkenv.steal_ticks() - steal0) / sparkenv.CLK_TCK

    ops = wl.ops
    checks = ops + wl.checks
    failed = [op for op in checks if op.error]
    docs = sum(op.docs for op in ops)
    latencies = [op.latency for op in ops]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "docs_per_s": (docs / window_s, "docs/s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
        "cpu_s_per_kdoc": (cpu_s / (docs / 1000), "s/kdoc"),
    }
    p90 = percentile_with_tail(latencies, 0.9)
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {len(ops)} timed ops "
        f"in {window_s:.2f} s, {docs} docs; setups "
        f"{', '.join(f'{s:.2f}' for s in setups)} s; latency p90 "
        f"{'n/a (<10 samples beyond)' if p90 is None else f'{p90:.4f} s'} "
        f"over {len(latencies)} samples; ops_failed_frac "
        f"{len(failed)}/{len(checks)} = {len(failed) / len(checks):.4f}; "
        f"host.steal_s {steal_s:.2f}; input prep {prep_s:.2f} s"
    )
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in latencies))
    for op in failed[:5]:
        print(f"  failed op {op.op_id}: {op.error[:500]}")

    last = WORK / "last" / f"{args.workload}-s{args.seed}.json"
    if args.trace:
        metrics = _layer_metrics(wl, event_dir, app_id, recorder, run_dir)
        metrics["host.steal_s"] = (steal_s, "s")
        if last.exists():
            plain = json.loads(last.read_text())
            print("tracing overhead (traced - untraced, same seed): " + ", ".join(
                f"{k} {v[0] - plain[k]:+.4g} {v[1]}" for k, v in e2e.items()
            ))
        else:
            print("tracing overhead: no untraced run of this seed to compare")
    else:
        metrics = e2e
        last.parent.mkdir(exist_ok=True)
        last.write_text(json.dumps({k: v[0] for k, v in e2e.items()}))
    shutil.rmtree(run_dir / "stores", ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(wl, event_dir, app_id, recorder, run_dir) -> dict:
    from perfbench import eventlog, sparkenv
    from perfbench.tracing import layer_metrics

    jobs = eventlog.fold(eventlog.app_log(event_dir, app_id))
    recorder.dump(run_dir / "spans.json")
    files, size = wl.store_usage()
    docs = sum(op.docs for op in wl.ops)
    values = layer_metrics(
        recorder.spans, wl.ops[: wl.MIN_OPS], jobs, sparkenv.nproc(),
        files / len(wl.ops), size / (docs / 1000),
    )
    units = {"_per_doc": "B/doc", "_per_kdoc": "B/kdoc", "_frac": "frac", "_s_per_op": "s"}
    return {
        k: (v, next((u for suffix, u in units.items() if k.endswith(suffix)), "count"))
        for k, v in values.items()
    }


if __name__ == "__main__":
    sys.exit(main())
