#!/usr/bin/env python3
"""Layered benchmark of trackintel_spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 --seconds 10 --trace 0

One run: start a session with ``get_spark()`` defaults, generate the
workload's inputs from ``--seed`` (three times; the median counts), run one
untimed warm-up iteration, then run iterations in a closed loop for
``--seconds`` seconds and check every output. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The traced run records a span around every
public call, tags each span's Spark jobs with a job group and writes
Spark's event log into the run's work directory; the spans and the log
are combined after the session stops. Compare ``trace.result_s_p50``
with an untraced run's ``result_s_p50`` for the tracing overhead
(``perfbench/overhead.py`` does both runs).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "golden.json")

E2E_UNITS = {
    "setup_s": "s",
    "result_s_p50": "s",
    "result_s_tail": "s",
    "rows_per_s": "1/s",
}

CHAIN_OPS = {
    # operator -> the actions that execute its plan
    "staypoints": ("materialize.staypoints",),
    "triplegs": ("materialize.triplegs",),
    "trips": ("materialize.trips",),
    "tours": ("result.tours",),
    "locations": ("result.locations",),
}
ANALYSIS_FNS = ("create_activity_flag", "temporal_tracking_quality")
SPARK_SUMS = (
    "jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_bytes_sent", "python_bytes_received", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "driver_gap_s",
)
STREAM_LAYERS = (
    "trigger_s_p50", "trigger_s_tail", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_ms",
    "state_commit_ms", "state_rows", "state_mb",
)


def _unit(name: str) -> str:
    words = name.rsplit(".", 1)[-1].split("_")
    for word, unit in (("bytes", "B"), ("ms", "ms"), ("mb", "MB"), ("s", "s")):
        if word in words:
            return unit
    return "count"


def per_layer_units() -> dict[str, str]:
    names = ["sources.load_s"]
    for op in CHAIN_OPS:
        names += [f"operators.{op}.call_s", f"operators.{op}.eager_jobs", f"operators.{op}.stage_s"]
    names += [f"analysis.{fn}.call_s" for fn in ANALYSIS_FNS]
    names += ["plans.persisted_rdds_delta", "plans.persisted_rdds_retained"]
    names += [f"spark.{k}" for k in SPARK_SUMS]
    names += [f"streaming.{k}" for k in STREAM_LAYERS]
    names += ["geogr.join.call_s", "geogr.join.action_s", "geogr.pairs_out"]
    names += ["host.steal_cpu_s", "host.canary_s", "host.driver_rss_mb_peak"]
    names += ["trace.result_s_p50", "trace.bookkeeping_s"]
    return {n: _unit(n) for n in names}


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest nearest-rank percentile with at least ten samples
    beyond it, and that percentile; the maximum (100) below 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100
    k = n - 11
    return xs[k], (100 * (k + 1)) // n


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="store this run's output digests as the expected ones for --seed")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "trackintel_spark", "__init__.py")):
        print(f"perfbench: no trackintel_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the driver, the JVM it launches and every Python worker import the
    # package from this checkout, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str, tmp: str) -> int:
    from trackintel_spark import get_spark

    from tracing import Tracer, canary, driver_rss_mb_peak, steal_cpu_s
    from workloads import DEFAULT_SEED, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    eventlog = os.path.join(work, "eventlog")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(eventlog)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
        })
    cores = os.cpu_count()
    print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores}")
    print(f"perfbench: confs set by the benchmark (all else get_spark() defaults): {json.dumps(confs)}")
    print(f"perfbench: env set by the benchmark: PYTHONPATH={os.environ['PYTHONPATH']} "
          f"TMPDIR=<work>/tmp SPARK_LOCAL_DIRS=<work>/local")

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=confs)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    jsc = spark.sparkContext._jsc.sc()

    tracer = Tracer(spark, bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, os.path.join(work, "input"), args.seed)
    golden_all = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as fh:
            golden_all = json.load(fh)
    golden = None
    if args.seed == DEFAULT_SEED and not args.record_golden:
        golden = golden_all.get(args.workload, {}).get(str(args.seed))

    problems: list[str] = []
    input_s, load_s = [], []
    for _ in range(3):
        t = time.perf_counter()
        wl.prepare()
        load_s.append(wl.load())
        input_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("warmup", 0):
        warm_digests = wl.iterate(0)
    warmup_s = time.perf_counter() - t
    problems += [f"warm-up: {p}" for p in wl.check(warm_digests, golden)]
    setup_s = session_s + statistics.median(input_s) + warmup_s

    def retained() -> int:
        """Persistent RDDs still registered once the iteration's frames are
        unreachable and the JVM has collected them."""
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        prev = -1
        for _ in range(10):
            time.sleep(0.2)
            cur = int(jsc.getPersistentRDDs().size())
            if cur == prev:
                return cur
            prev = cur
        return prev

    steal0 = steal_cpu_s()
    result_s, canary_s, ok_iters, stream_layers, pairs_out = [], [], [], [], []
    retained_first = first_digests = None
    attempted = failed = 0
    t_start = time.perf_counter()
    while wl.can_iterate() and (attempted == 0 or time.perf_counter() - t_start < args.seconds):
        canary_s.append(canary(spark))
        attempted += 1
        it = attempted
        try:
            t = time.perf_counter()
            with tracer.span("iteration", it):
                digests = wl.iterate(it)
            dt = time.perf_counter() - t
            bad = wl.check(digests, golden)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            bad, dt, digests = ["exception"], None, None
        if bad:
            failed += 1
            problems += [f"iteration {it}: {p}" for p in bad]
        else:
            result_s.append(dt)
            ok_iters.append(it)
            stream_layers.append(wl.last_stream)
            pairs_out.append(getattr(wl, "last_pairs", 0))
        if retained_first is None:
            first_digests = digests
            del digests
            retained_first = retained()
    steal_s = steal_cpu_s() - steal0
    rss_mb = driver_rss_mb_peak(spark)
    if args.record_golden and not failed:
        golden_all.setdefault(args.workload, {})[str(args.seed)] = {
            k: v for k, v in first_digests.items() if isinstance(v, dict) and "hash" in v
        }
        with open(GOLDEN, "w") as fh:
            json.dump(golden_all, fh, indent=1, sort_keys=True)
            fh.write("\n")
    wl.close()
    stop(spark)

    res = result_s or [float("nan")]
    res_tail, res_pct = tail(res)
    triggers, trig_pct = [], None
    for s in stream_layers:
        if s.get("trigger_s"):
            triggers += s["trigger_s"]
            s["trigger_s_p50"] = median(s["trigger_s"])
            s["trigger_s_tail"], trig_pct = tail(s["trigger_s"])
    e2e = {
        "setup_s": setup_s,
        "result_s_p50": median(res),
        "result_s_tail": res_tail,
        "rows_per_s": wl.input_rows / median(res),
    }
    print(f"perfbench: setup: session {session_s:.3f} s, inputs median of {len(input_s)} "
          f"{statistics.median(input_s):.3f} s (sources.load_table {statistics.median(load_s):.3f} s), "
          f"warm-up iteration {warmup_s:.3f} s")
    print(f"perfbench: {len(result_s)} iterations; result_s_tail is p{res_pct} of {len(res)} samples")
    if triggers:
        print(f"perfbench: micro-batches: streaming.trigger_s_p50 {median(triggers):.3f} s, "
              f"streaming.trigger_s_tail p{trig_pct} of {len(triggers) // len(stream_layers)} per run")
    print(f"perfbench: host.driver_rss_mb_peak {rss_mb:.0f} MB (driver Python process + driver JVM)")
    print(f"perfbench: plans.persisted_rdds_retained {retained_first} after the first measured iteration")
    print(f"perfbench: failed_ratio {failed}/{attempted} = {failed / attempted:.3f}")
    print(f"perfbench: noise: cores={cores} host.steal_cpu_s={steal_s:.2f} over the measured phase, "
          f"host.canary_s median {median(canary_s):.3f} of {len(canary_s)} interleaved samples")
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}")

    if args.trace:
        metrics = layer_metrics(tracer, eventlog, ok_iters, stream_layers, pairs_out, load_s)
        metrics["host.steal_cpu_s"] = steal_s
        metrics["host.canary_s"] = median(canary_s)
        metrics["host.driver_rss_mb_peak"] = rss_mb
        metrics["plans.persisted_rdds_retained"] = retained_first
        metrics["trace.result_s_p50"] = median(res)
        metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s / max(1, attempted + 1)
        units = per_layer_units()
    else:
        metrics, units = e2e, E2E_UNITS
    for k, v in metrics.items():
        print(f"perfbench: {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


ACTIONS = ("materialize.", "result.", "geogr.join.action", "streaming.replay")


def is_call(span_name: str) -> bool:
    """A span around a public library call (not around an action)."""
    return span_name in ("geogr.join", "streaming.trips_stream_exact") or span_name.startswith(
        ("operators.", "analysis."))


def layer_metrics(tracer, eventlog, ok_iters, stream_layers, pairs_out, load_s) -> dict:
    import eventlog as el

    spans = [s for s in tracer.spans if s.get("end") is not None]
    attr = el.attribute(spans, el.parse(el.read_events(eventlog)))
    selfs = el.self_times(spans)
    by_iter: dict[int, dict[str, list[dict]]] = {}
    for s in spans:
        by_iter.setdefault(s["iteration"], {}).setdefault(s["name"], []).append(s)
    iters = [by_iter.get(i, {}) for i in ok_iters]

    def dur(s):
        return s["end"] - s["start"]

    def med(fn):
        return median(fn(it) for it in iters)

    def total(it, name, fn):
        return sum(fn(s) for s in it.get(name, ()))

    out = {"sources.load_s": median(load_s)}
    for op, actions in CHAIN_OPS.items():
        call = f"operators.{op}"
        out[f"operators.{op}.call_s"] = med(lambda it: total(it, call, dur))
        out[f"operators.{op}.eager_jobs"] = med(lambda it: total(it, call, lambda s: attr[s["id"]]["jobs"]))
        out[f"operators.{op}.stage_s"] = med(lambda it: sum(
            total(it, n, lambda s: attr[s["id"]]["stage_s"]) for n in (call, *actions)))
    for fn in ANALYSIS_FNS:
        out[f"analysis.{fn}.call_s"] = med(lambda it: total(it, f"analysis.{fn}", dur))
    out["plans.persisted_rdds_delta"] = med(lambda it: sum(
        s["rdds_delta"] for name, ss in it.items() if is_call(name) for s in ss))
    for k in SPARK_SUMS:
        out[f"spark.{k}"] = med(lambda it: total(it, "iteration", lambda s: attr[s["id"]][k]))
    for k in STREAM_LAYERS:
        out[f"streaming.{k}"] = median(s.get(k, 0.0) for s in stream_layers)
    out["geogr.join.call_s"] = med(lambda it: total(it, "geogr.join", dur))
    out["geogr.join.action_s"] = med(lambda it: total(it, "geogr.join.action", dur))
    out["geogr.pairs_out"] = median(pairs_out)

    # where an iteration's time goes: driver work inside the public calls
    # (building the DataFrame), the Spark jobs those calls launch eagerly,
    # and the materialising actions, split into driver time (planning)
    # and job time
    layers = dict.fromkeys(("driver build", "eager jobs in calls", "action planning", "action jobs"), 0.0)
    for it in iters:
        for name, ss in it.items():
            if is_call(name):
                kind = ("driver build", "eager jobs in calls")
            elif name.startswith(ACTIONS):
                kind = ("action planning", "action jobs")
            else:
                continue
            for s in ss:
                layers[kind[0]] += attr[s["id"]]["driver_gap_s"] / len(iters)
                layers[kind[1]] += attr[s["id"]]["job_s"] / len(iters)
    if any(stream_layers):
        # a micro-batch runs inside the replay action; split it by the
        # phases StreamingQueryProgress reports
        replay = layers.pop("action jobs") + layers.pop("action planning")
        parts = {f"streaming.{k}": out[f"streaming.{k}"] / 1e3
                 for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_ms")}
        layers.update(parts)
        layers["streaming, rest of the replay"] = max(0.0, replay - sum(parts.values()))
    total_s = sum(layers.values()) or 1.0
    for name, v in sorted(layers.items(), key=lambda kv: -kv[1]):
        print(f"perfbench: layer {name}: {v:.3f} s per iteration ({100 * v / total_s:.0f}%)")
    print(f"perfbench: largest layer: {max(layers, key=layers.get)}")
    print("perfbench: spans (name: count, median duration s, median self s, median jobs):")
    names = sorted({s["name"] for s in spans})
    for n in names:
        ss = [s for s in spans if s["name"] == n]
        print(f"perfbench:   {n}: {len(ss)}, {median(dur(s) for s in ss):.3f}, "
              f"{median(selfs[s['id']] for s in ss):.3f}, {median(attr[s['id']]['jobs'] for s in ss):g}")
    return out


if __name__ == "__main__":
    sys.exit(main())
