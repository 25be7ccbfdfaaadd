"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md): gate_scan, images_resume.

Untraced (``--trace 0``): set up (JVM, inputs, warm-up), then run whole
passes of the workload's calls, in a fixed order, until ``--seconds`` have
elapsed (the seed seeds the images table);
every call's output is checked against its oracle-verified expectation. The
last stdout line is the JSON result with the end-to-end metrics.

Traced (``--trace 1``): one traced pass, whose calls are first calls like an
untraced run's, gives the per-layer metrics; the tracer's own bookkeeping
time inside the calls, as a share of the rest of their wall time, is the
tracing overhead.
The span trees are written to ``.perfbench_out/`` and a per-layer table is
printed before the JSON line.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import signal
import statistics
import sys
import time


def process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spantrace import Tracer, call_facts, layer_table, per_layer_metrics  # noqa: E402

MIN_TAIL_CALLS = 10  # the tail percentile leaves at least this many calls beyond it


def tail_stat(walls: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least
    MIN_TAIL_CALLS calls beyond it (nearest rank). A run with fewer than
    2 * MIN_TAIL_CALLS calls has no such percentile at or above the median;
    it reports p90 instead, and says so through the percentile it returns."""
    xs = sorted(walls)
    n = len(xs)
    p = math.floor(100 * (n - MIN_TAIL_CALLS) / n) if n >= 2 * MIN_TAIL_CALLS else 90
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p


def run_calls(wl, seconds: float, tracer=None, facts=None):
    """Whole passes until ``seconds`` elapse; with a tracer, one traced pass
    (its calls are first calls, as in an untraced run)."""
    from harness import now

    records: list[dict] = []
    t_begin = now()
    passes = wl.passes()
    for n in itertools.count():
        if n >= 1 if tracer is not None else (n > 0 and now() - t_begin >= seconds):
            break
        k, calls = next(passes)
        for call in calls:
            rec = {"op": call.op, "key": call.key, "group": call.group}
            if tracer is not None:
                tracer.enabled = True
                with tracer.call(call.op) as root:
                    t0 = now()
                    ok, detail = _guarded(call.run)
                    rec["wall"] = now() - t0
                tracer.enabled = False
                sql = tracer.collect(root)
                facts.append(call_facts(root, sql, tracer.cores, call.out_rows, call.bucket))
            else:
                t0 = now()
                ok, detail = _guarded(call.run)
                rec["wall"] = now() - t0
            rec.update(ok=ok, detail=detail, rows=call.input_rows)
            records.append(rec)
        err = wl.verify_group(k)
        if err:
            for r in records:
                if r["group"] == k and r["ok"]:
                    r["ok"], r["detail"] = False, f"sweep check: {err}"
    return records


def _guarded(fn):
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - a raising call is a failed call
        return False, f"{type(e).__name__}: {str(e)[:300]}"


def end_to_end(records: list[dict], setup_s: float, peak_rss: float) -> tuple[dict, str]:
    walls = [r["wall"] for r in records]
    tail, pct = tail_stat(walls)
    rows = sum(r["rows"] for r in records)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / sum(walls), "rows/s"),
        "call_s.p50": (statistics.median(walls), "s"),
        "call_s.tail": (tail, "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }
    failed = sum(1 for r in records if not r["ok"])
    note = (f"calls={len(walls)} tail=p{pct} failed_ratio={failed / len(walls):.4f} "
            f"input_rows={rows}")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}, note


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="table scale factor override (tests use workloads.TEST_SF)")
    ap.add_argument("--images-rows", type=int, default=None,
                    help="images table size override (tests)")
    args = ap.parse_args(argv)
    t_start = process_start()
    # SIGTERM unwinds like an error: Spark is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import harness
    import workloads

    steal0 = harness.cpu_steal_s()
    wl = workloads.make(args.workload, args.sf, args.images_rows)
    work = harness.prepare_process(args.workload)
    harness.redirect_fixture_caches(work)
    tracer = facts = None
    with harness.PeakRss() as rss:
        spark = harness.make_session(work, ui=bool(args.trace))
        try:
            if args.trace:
                tracer, facts = Tracer(spark, harness.CORES), []
                tracer.install()  # before ndto_spark.queries is imported
                wl.terminal = tracer.terminal
            phases = {"session": time.time() - t_start}
            wl.setup(spark, work, args.seed)
            phases["inputs"] = time.time() - t_start - sum(phases.values())
            wl.warmup()
            phases["warmup"] = time.time() - t_start - sum(phases.values())
            setup_s = time.time() - t_start
            records = run_calls(wl, args.seconds, tracer, facts)
        finally:
            wl.teardown()
            _stop_spark(spark)
    failed = [r for r in records if not r["ok"]]
    for r in failed[:10]:
        print(f"FAILED {r['op']} ({r['key']}): {r['detail']}", file=sys.stderr)

    if args.trace:
        wall = sum(r["wall"] for r in records)
        overhead = tracer.own_s / (wall - tracer.own_s)
        metrics = per_layer_metrics(facts, overhead)
        print(f"# traced run: workload={args.workload} seed={args.seed} "
              f"traced_calls={len(facts)} tracing_overhead={overhead:+.3%}")
        print(layer_table(tracer.calls))
        for name, m in metrics.items():
            print(f"  {name:<36}{m['value']:>16.6g} {m['unit']}")
        out = os.path.join(harness.ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump([c.to_json() for c in tracer.calls], f)
    else:
        metrics, note = end_to_end(records, setup_s, rss.peak)
        print(f"# workload={args.workload} seed={args.seed} {note} "
              f"host_steal={harness.cpu_steal_s() - steal0:.1f}cpu-s setup: "
              + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
        for name, m in metrics.items():
            print(f"  {name:<14}{m['value']:>16.6f} {m['unit']}")
        print("# calls: " + " ".join(f"{r['op']}={r['wall']:.2f}" for r in records))
    result = {
        "correct": not failed and bool(records),
        "attempted": len(records),
        "failed": len(failed),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
