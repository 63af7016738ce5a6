"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run sets up a session exactly as
the program does (registry import, ``session.get_spark``, a first job),
generates the workload's inputs from the seed under
``.perfbench-work/``, warms up, then runs one client in a closed loop
for as many whole passes as fill about ``--seconds``, checking every
operation's output. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Earlier lines and ``.perfbench-work/results/`` carry the host shape and
the detail.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import host  # noqa: E402

# The benchmark's own modules that pull in numpy, pandas and pyarrow
# (gen, spans, workloads) are imported only after set-up is timed, so
# that everything loaded before the first job is loaded by the program.


def load_benchmark() -> tuple[dict, dict]:
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return spec, bench


def end_to_end(setup_s: float, ops, per_pass: int, tail_pct: float) -> dict[str, float]:
    from workloads import nearest_rank

    secs = [o.seconds for o in ops]
    passes = [sum(secs[i:i + per_pass]) for i in range(0, len(secs), per_pass)]
    wall = statistics.median(passes)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(secs),
        "op_tail_s": nearest_rank(secs, tail_pct),
        "wall_s": wall,
        "rows_per_s": sum(o.rows for o in ops if o.ok) / len(passes) / wall,
    }


def jit_bean(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()


def settle_jit(spark, quiet_s: float = 0.5, limit_s: float = 8.0) -> None:
    """Wait until the JVM's JIT compilers have been idle for ``quiet_s``
    (at most ``limit_s``): compilations queued by the warm-up otherwise
    compete with the first timed operations for CPU."""
    jit = jit_bean(spark)
    gc.collect()
    deadline = time.perf_counter() + limit_s
    last, quiet_since = jit.getTotalCompilationTime(), time.perf_counter()
    while time.perf_counter() < deadline:
        time.sleep(0.1)
        now = jit.getTotalCompilationTime()
        if now != last:
            last, quiet_since = now, time.perf_counter()
        elif time.perf_counter() - quiet_since >= quiet_s:
            return


def verdict(ops) -> dict:
    """Failure accounting for the result line: an operation that raised,
    timed out or failed its output check counts as failed; a run with no
    completed operation is not correct."""
    failed = sum(1 for o in ops if not o.ok)
    return {
        "correct": bool(ops) and failed == 0,
        "attempted": max(1, len(ops)),
        "failed": failed if ops else 1,
        "ops_failed_pct": 100.0 * failed / len(ops) if ops else 100.0,
    }


def tracing_overhead_pct(ops) -> float:
    """Mean over slots of (mean traced op / mean untraced op - 1), in %."""
    ratios = []
    for slot in {o.slot for o in ops}:
        t = [o.seconds for o in ops if o.slot == slot and o.traced]
        u = [o.seconds for o in ops if o.slot == slot and not o.traced]
        if t and u:
            ratios.append(statistics.fmean(t) / statistics.fmean(u) - 1.0)
    return 100.0 * statistics.fmean(ratios) if ratios else 0.0


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both the
    JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _children(pid: int) -> list[int]:
    """Descendants of ``pid`` (from /proc), deepest last."""
    by_parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            by_parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in by_parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def main(argv=None) -> int:
    spec, bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench-work")
    run_dir = os.path.join(work, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    try:
        cpus = host.prepare_env(run_dir, ROOT)
    except host.EnvError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    try:
        return setup_and_measure(args, spec, bench, run_dir, work, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def setup_and_measure(args, spec, bench, run_dir, work, cpus) -> int:
    # ---- setup: what every user of the program pays before a first result
    sys.path.insert(0, ROOT)
    layer: dict[str, float] = {}
    t = time.perf_counter()
    try:
        from self_healing_data_pipeline_spark import registry
        from self_healing_data_pipeline_spark.session import get_spark

        registry.load_all()
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    layer["session.import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    layer["session.start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        layer["session.first_job_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS
        return measure(args, spec, bench, spark, run_dir, work, cpus, setup_s, layer)
    finally:
        shutdown(spark)


def measure(args, spec, bench, spark, run_dir, work, cpus, setup_s, layer) -> int:
    from spans import StageStore, Tracer
    from workloads import WORKLOADS, closed_loop

    store = StageStore(spark) if args.trace else None
    tracer = Tracer(store.ids) if args.trace else None
    if tracer is not None:
        tracer.enabled = False
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, run_dir, args.seed, spec[args.workload], tracer)
    phases = {"setup_s": setup_s, "inputs_s": time.perf_counter() - t}
    t = time.perf_counter()
    wl.warmup()
    phases["warmup_s"] = time.perf_counter() - t
    t = time.perf_counter()
    settle_jit(spark)
    phases["settle_s"] = time.perf_counter() - t
    state = wl.state_rows() if hasattr(wl, "state_rows") else None

    steal = host.StealWindow()
    jit_ms = jit_bean(spark).getTotalCompilationTime()
    t0 = time.perf_counter()
    # A pass count fixed by --seconds and the workload's nominal pass
    # length, not by how fast this host ran: every run times the same
    # operations.
    passes = max(1, round(args.seconds / spec[args.workload]["pass_seconds"]))
    ops = closed_loop(wl, passes, tracer)
    window_s = time.perf_counter() - t0
    steal_pct = steal.pct()
    # JIT compiler time during the window: how far from warm the run was.
    phases["window_jit_s"] = (jit_bean(spark).getTotalCompilationTime() - jit_ms) / 1000.0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    peak_mb = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(jvm_pid)

    v = verdict(ops)
    e2e = end_to_end(setup_s, ops, len(wl.slots()), spec["tail_percentile"])
    shape = host.shape(args.workload, cpus, spec["query"]["sf"])
    shape["steal_pct"] = steal_pct
    info = {
        "shape": shape,
        "seed": args.seed,
        "phases": {**phases, "window_s": window_s},
        "ops": len(ops),
        "ops_failed_pct": v["ops_failed_pct"],
        "peak_rss_mb": peak_mb,
        "tail_percentile": spec["tail_percentile"],
        "state_at_start": state,
        "errors": sorted({f"{o.slot}: {o.error}" for o in ops if not o.ok}),
    }
    if args.trace:
        metrics = dict(layer, peak_rss_mb=peak_mb, op_tail_s=e2e["op_tail_s"])
        metrics.update(wl.layers(ops, tracer, store))
        metrics["trace.overhead_pct"] = tracing_overhead_pct(ops)
        wanted = bench["per_layer"]
    else:
        metrics = e2e
        wanted = bench["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in wanted}

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**info, "metrics": out, "computed": metrics,
                   "op_log": [[o.slot, o.seconds, o.ok, o.traced] for o in ops]}, f, indent=1)
    if tracer is not None:
        tracer.dump(stem + ".spans.jsonl")
        if getattr(wl, "records", None):
            with open(stem + ".keys.json", "w") as f:
                json.dump(wl.records, f, indent=1)

    print("# host " + json.dumps(shape))
    print("# phases " + json.dumps({k: round(x, 2) for k, x in info["phases"].items()}))
    print(f"# {len(ops)} ops in {window_s:.1f}s, ops_failed_pct {info['ops_failed_pct']:.2f} %, "
          f"peak_rss_mb {peak_mb:.1f} MiB, op_tail_s {e2e['op_tail_s']:.4f} s "
          f"(p{spec['tail_percentile']} of {len(ops)} ops)")
    if state is not None:
        print("# state at start of timing " + json.dumps(state))
    for e in info["errors"]:
        print(f"# failed {e}")
    for name, m in out.items():
        print(f"# {name} {m['value']:.6g} {m['unit']}")
    sys.stdout.flush()
    print(json.dumps({"correct": v["correct"], "attempted": v["attempted"],
                      "failed": v["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
