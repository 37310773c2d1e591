"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds nothing: the program is the Python
package next to this directory. One run:

1. generates the workload's inputs from ``--seed`` into a work directory
   under the repository root (removed at exit);
2. sets up SETUPS times (session start plus the workload's warm-up action;
   the first also launches the JVM) and reports the median as ``setup_s``;
3. runs passes of timed calls, closed loop with one client, until the
   passes add up to ``--seconds``; the first pass is the first work of a
   fresh JVM, as when the job is launched; checks every result outside the
   timed region;
4. with ``--trace 1``, then runs the same passes in two fresh sessions,
   with Spark's event log on and without, and reports per-layer metrics
   from the traced passes instead, plus the tracing overhead (traced minus
   untraced median pass);
5. prints the environment, the failure ratio and, as the last line, one
   JSON object ``{"correct", "attempted", "failed", "metrics"}``.

See perfbench/README.md for metrics, units and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "sales_data_etl_pipeline_spark"
SETUPS = 3


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def measure(wl, spark, seconds: float, rec, failed: set[str]) -> tuple[list, list[float]]:
    """Closed loop: passes until their summed wall time reaches ``seconds``.
    Returns the outcomes and each pass's wall time. Result checks run
    between passes, outside the timed calls."""
    outcomes, pass_walls = [], []
    pass_no = 0
    while not pass_walls or sum(pass_walls) < seconds:
        outs = wl.run_pass(rec, spark, pass_no)
        pass_walls.append(outs[-1].call.t2 - outs[0].call.t0)
        for o in outs:
            if not wl.check_outcome(o):
                failed.add(o.call.id)
                print(f"FAILED {o.call.name} (pass {pass_no}): {o.error or 'wrong result'}",
                      file=sys.stderr)
        wl.after_pass(pass_no)
        outcomes.extend(outs)
        pass_no += 1
    return outcomes, pass_walls


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) distribution. A pass has
    9 to 27 calls of very different latency, and with few calls the single
    middle value jumps between neighbours far apart from seed to seed."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    t = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        log_pdf = (n - 1) / 2 * np.log(t * (1 - t))
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


def layer_metrics(wl, env, calls, names: list[str]) -> dict[str, float]:
    """Median over traced passes of each per-layer metric."""
    import eventlog

    from harness import event_log_file

    trace = eventlog.parse_file(event_log_file(env))
    per_pass: dict[int, list] = {}
    for c in calls:
        per_pass.setdefault(c.pass_no, []).append(c)
    rows = [eventlog.per_pass_metrics(trace, cs, wl.csv_bytes) for cs in per_pass.values()]
    return {n: statistics.median(r.get(n, 0.0) for r in rows) for n in names}


def run(args, env) -> int:
    import numpy as np

    import harness
    from workloads import WORKLOADS

    e2e_units, layer_units = _metric_specs()
    wl = WORKLOADS[args.workload](env, args.seed)
    inputs = wl.prepare()

    wl.start_oracles()
    failed: set[str] = set()
    spark, setups = None, []
    for i in range(SETUPS):
        if spark is not None:
            harness.stop_session(spark)
        t = time.perf_counter()
        spark = harness.start_session(env)
        wl.warmup(spark)
        setups.append(time.perf_counter() - t)
        if i == 0:
            # The DuckDB oracles run beside the first set-up, which launches
            # the JVM and is never the median; the rest run uncontended.
            wl.join_oracles()
    print("env " + json.dumps(harness.describe(env, spark, args.seed, inputs)))

    rec = harness.Recorder(spark, "run")
    with harness.RssSampler(harness.jvm_pid(spark)) as rss:
        outcomes, walls = measure(wl, spark, args.seconds, rec, failed)
    failed |= wl.final_check(spark, outcomes)
    attempted = len(outcomes)

    if args.trace:
        # The same passes in two fresh sessions on the now warm JVM: with
        # Spark's event log on, then without. The JVM still speeds up from one
        # session to the next, which pushes the overhead up.
        windows: dict[bool, list[float]] = {}
        for i, traced in enumerate((True, False)):
            harness.stop_session(spark)
            spark = harness.start_session(env, event_log=traced)
            wl.warmup(spark)
            wrec = harness.Recorder(spark, f"trace{i}")
            undo = wl.trace_hooks(wrec) if traced else []
            try:
                w_outcomes, windows[traced] = measure(wl, spark, args.seconds, wrec, failed)
            finally:
                for u in undo:
                    u()
            if traced:
                trec = wrec
            failed |= wl.final_check(spark, w_outcomes)
            attempted += len(w_outcomes)
    harness.stop_session(spark)
    harness.shutdown_jvm()

    if args.trace:
        values = layer_metrics(wl, env, trec.calls, list(layer_units))
        values["trace.overhead_s"] = statistics.median(windows[True]) - statistics.median(windows[False])
        metrics = {n: {"value": values[n], "unit": u} for n, u in layer_units.items()}
    else:
        if wl.pass_is_op:
            lat = walls
        else:
            lat = [o.call.wall for o in outcomes]
        values = {
            "setup_s": statistics.median(setups),
            "run_s": statistics.median(walls),
            "op_p50_s": hd_median(lat),
            "peak_rss_mb": rss.peak_root / 2**20,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in e2e_units.items()}
        # Too few calls per run for a gated tail: see perfbench/README.md.
        print(f"op_p90_s {float(np.percentile(lat, 90)):.4f} s over {len(lat)} calls")
    print(f"failed_ratio {len(failed) / attempted:.4f} ratio ({len(failed)} of {attempted} calls)")
    lat_by_name: dict[str, list[float]] = {}
    for o in outcomes:
        lat_by_name.setdefault(o.call.name, []).append(round(o.call.wall, 3))
    print(f"passes {len(walls)} setups {[round(s, 3) for s in setups]} "
          f"jvm_and_workers_rss_mb {rss.peak / 2**20:.0f} processes_at_peak {rss.peak_procs} "
          f"calls {json.dumps(lat_by_name)}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_pipeline", "star_queries", "corpus_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: {PKG}/ and __spark_entry__.py not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    from harness import RunEnv

    env = RunEnv(work)
    env.pin()
    try:
        return run(args, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
