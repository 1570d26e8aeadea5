"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process, one client thread, closed
loop: the next op starts when the previous one returns.  Spark runs as
``local[nproc]`` through ``entwiner_spark.get_spark``.  The timed
window runs whole cycles (every op kind of the workload once) until
``--seconds`` have passed, so every run sees the same op mix.

Every metric is printed as ``name = value unit``; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Outputs are checked after the timed window; a wrong
or failed op makes the run exit with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_p50_s": "s",
    "held_mb": "MB",
}


def _since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _configure_env(work: str, trace: bool) -> None:
    """Spark settings made before the JVM starts: cores and every
    scratch directory inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too: temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        # keep every job and stage in the status store until the span reads it
        conf += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f'--conf "{c}"' for c in conf) + " pyspark-shell"


def _host_state(spark) -> dict:
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        done = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=30)
        commit = done.stdout.strip() or commit
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "commit": commit,
    }


def _timed_window(wl, tracer, seconds: float, first_cycle: int):
    """Run whole cycles until ``seconds`` have passed.  Returns the op
    records, the window length and the next cycle number."""
    records = []
    t0 = time.perf_counter()
    k = first_cycle
    while True:
        for op in wl.cycle(k):
            with tracer.span("bench", op.kind, op_id=len(tracer.spans)):
                s = time.perf_counter()
                try:
                    res, err = op.run(tracer), None
                except Exception:  # a failing op is counted, not fatal
                    res, err = None, traceback.format_exc(limit=3)
                records.append({"op": op, "latency": time.perf_counter() - s, "res": res, "err": err})
        print(f"cycle {k}: {time.perf_counter() - t0:.2f} s into the window", file=sys.stderr)
        k += 1
        if time.perf_counter() - t0 >= seconds:
            return records, time.perf_counter() - t0, k


def _check(records) -> int:
    failed = 0
    for r in records:
        why = r["err"]
        if why is None:
            try:
                why = r["op"].check(r["res"])
            except Exception:
                why = traceback.format_exc(limit=3)
        if why is not None:
            failed += 1
            print(f"WRONG {r['op'].kind}: {why}", file=sys.stderr)
        r["res"] = None
    return failed


def _e2e(records, window: float, setup_s: float, held_mb: float) -> dict[str, float]:
    lat = [r["latency"] for r in records]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(records) / window,
        "op_p50_s": statistics.median(lat),
        "held_mb": held_mb,
    }


def _extras(name: str, records) -> list[tuple[str, float, str]]:
    """Workload-specific figures, printed beside the end-to-end metrics."""
    out = []
    for kind in sorted({r["op"].kind for r in records}):
        lat = [r["latency"] for r in records if r["op"].kind == kind]
        out.append((f"op.{kind}.p50_s", statistics.median(lat), "s"))
    if len(records) >= 100:
        out.append(("op_p90_s", _quantile([r["latency"] for r in records], 0.9), "s"))
    if name == "graph_store":
        by = {k: [r for r in records if r["op"].kind == k] for k in ("write", "update", "read")}
        for kind, metric, unit in (("write", "rows_written_per_s", "edges/s"),
                                   ("update", "keyed_updates_per_s", "updates/s")):
            work = sum(r["op"].work for r in by[kind])
            out.append((metric, work / sum(r["latency"] for r in by[kind]), unit))
        reads = [r["latency"] for r in by["read"]]
        out.append(("lookup_p50_s", statistics.median(reads), "s"))
        out.append(("lookup_p90_s", _quantile(reads, 0.9), "s"))
        out.append(("lookup_samples", len(reads), "count"))
    return out


def _per_layer(tracer, window_start: float) -> dict[str, tuple[float, str]]:
    from perfbench.trace import COUNTERS

    # the session span (set-up) and the spans of the traced window
    kept = [sp for sp in tracer.spans if sp.layer == "session" or sp.start >= window_start]
    totals = tracer.layer_totals(kept)
    out = {f"{layer}.{c}": (v, COUNTERS[c]) for layer, row in totals.items() for c, v in row.items()}
    plan = [sp.extra["plan_s"] for sp in kept if sp.layer == "catalog" and "plan_s" in sp.extra]
    out["catalog.plan_s"] = (sum(plan), "s")
    rounds = [sp.extra["rounds"] for sp in kept if "rounds" in sp.extra]
    out["operators.graph.rounds"] = (sum(rounds), "count")
    auto = [sp for sp in kept if sp.name == "SparkGraph.shortest_path"]
    out["operators.graph.local_ratio"] = (
        sum(sp.jobs == 0 for sp in auto) / len(auto) if auto else 0.0, "ratio")
    look = [sp for sp in kept if sp.layer == "nxview"]
    out["nxview.memo_hit_ratio"] = (
        sum(sp.jobs == 0 for sp in look) / len(look) if look else 0.0, "ratio")
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from perfbench.trace import descendants

    sc = spark.sparkContext
    proc = sc._gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    sc._gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "entwiner_spark")):
        print(f"error: no entwiner_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load_start, steal_start = os.getloadavg(), _steal_share()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(run_dir, bool(args.trace))

    from perfbench.trace import Tracer, jvm_held_mb, peak_rss_mb

    tracer = Tracer(enabled=bool(args.trace))
    from entwiner_spark import get_spark

    with tracer.span("session", "get_spark", op_id=0):
        spark = get_spark(f"perfbench-{args.workload}")
        tracer.attach(spark)
    session_s = _since_process_start()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(run_dir, "inputs"), tracer)
        setup_s = _since_process_start()
        print(f"setup: session {session_s:.2f} s, inputs and warm-up {setup_s - session_s:.2f} s",
              file=sys.stderr)
        result = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        base: list = []
        base_window = 0.0
        window_start = time.perf_counter() - tracer.t0
        records, window, cycle = _timed_window(wl, tracer, args.seconds, 0)
        if args.trace:
            # then an untraced window to set the traced one against; it runs
            # warmer, so the overhead it gives is an upper bound
            tracer.enabled = False
            base, base_window, _ = _timed_window(wl, tracer, args.seconds, cycle)
        rss = peak_rss_mb(tracer.jvm_pid)
        held_mb = rss["driver"] + rss["workers"] + jvm_held_mb(spark)
        load_end, steal_end = os.getloadavg(), _steal_share()
        all_records = records + base
        failed = _check(all_records)
        host = _host_state(spark)
    finally:
        _stop(spark)

    metrics = _e2e(records, window, setup_s, held_mb)
    lines = [(k, v, END_TO_END[k]) for k, v in metrics.items()]
    lines.append(("peak_rss_mb", sum(rss.values()), "MB"))
    lines += [(f"peak_rss_mb.{k}", v, "MB") for k, v in rss.items()]
    lines += _extras(args.workload, records)
    lines += [("failed_frac", failed / len(all_records), "ratio"),
              ("ops_timed", len(records), "count"),
              ("window_s", window, "s")]
    if args.trace:
        layer = _per_layer(tracer, window_start)
        base_rate = len(base) / base_window
        lines += [(k, v, u) for k, (v, u) in layer.items()]
        lines.append(("trace_overhead", base_rate / metrics["ops_per_s"] - 1.0, "ratio"))
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            gated = [m["name"] for m in json.load(fh)["per_layer"]]
        reported = {k: {"value": layer[k][0], "unit": layer[k][1]} for k in gated}
    else:
        reported = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    # share of CPU time the hypervisor gave to other guests: the cause of
    # this benchmark's slow runs on shared hosts.  loadavg alone cannot mark
    # a loaded host, because back-to-back runs inherit each other's load.
    steal = (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1])
    host.update(loadavg_start=load_start[0], loadavg_end=load_end[0], steal_share=steal,
                loaded_host=steal > 0.02)

    for name, value, unit in lines:
        print(f"{name} = {value:.6g} {unit}")
    for k, v in host.items():
        print(f"host.{k} = {v}")
    result.update(host=host, metrics={n: [v, u] for n, v, u in lines})
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(result) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_records),
        "failed": failed,
        "metrics": reported,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
