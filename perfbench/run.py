"""Benchmark entry point.

    python3 perfbench/run.py --workload odds_snapshots --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (untimed), starts the
engine's session from a cold JVM (``setup_s`` is that start-up plus one
untimed warm-up op), runs a few more untimed warm-up ops, then runs a
closed loop with one client for ``--seconds``: the next op starts when the
previous one returns, and every op's output is checked. Each timed op is
measured in wall time and in the CPU time the engine's processes spent on
it. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the ``end_to_end`` ones of ``BENCHMARK.json`` (CPU time per op,
set-up time, peak memory), with ``--trace 1`` its ``per_layer`` ones. A
summary line before it carries ``failed_frac``, the tail percentile with
its sample count, the wall-clock latencies and the host's CPU steal.

All files the run writes (inputs, Spark scratch, checkpoints, the span
dump of a traced run) live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OP_TIMEOUT_S = 60.0
# A fixed driver heap, sized for the inputs, committed and touched at
# start (-Xms equal to the maximum, -XX:+AlwaysPreTouch), as a JVM that
# serves for long is usually run. G1 otherwise grows the heap when
# collection takes more than a set share of the time, which follows how
# fast the host is at the moment: the same code then peaked 650-990 MB of
# heap in one run and the next, and peak_rss_mb moved by up to 400 MB.
# With the heap fixed, peak_rss_mb moves with the JVM's memory outside
# the heap (classes, compiled code, threads, native buffers) and the
# Python driver's.
DRIVER_MEM = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["odds_snapshots", "props_forecast", "line_feed", "curation_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one item from every op's output before the check "
                         "(self-test: each op must then count as failed)")
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    n = cpus()
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def corrupt(res) -> None:
    """Remove one element from the op's output: an arbitrage row, a line
    move, a prediction or a result row."""
    out = res.out
    if "arb" in out and out["arb"]:
        out["arb"] = set(sorted(out["arb"])[1:])
    elif "moves" in out:
        out["moves"] = out["moves"][1:] if out["moves"] else [{"game_id": "x"}]
    elif "preds" in out:
        out["preds"] = out["preds"][1:]
    else:
        for k, (cols, rows) in list(out.items()):
            out[k] = (cols, rows[1:])


def main(argv=None) -> int:
    args = parse_args(argv)
    # The package is imported from the checkout; without it there is no
    # benchmark to run.
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import sports_data_integration_and_forecasting_pipeline_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(pkg.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: the package was imported from {pkg.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2

    import probe
    from workloads import WORKLOADS

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "in"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    wl = WORKLOADS[args.workload](args.seed, args.scale, work / "in")
    wl.prepare()

    errors: list[str] = []
    spark = None
    tracer = None
    null = probe.NullTracer()
    gateway = None
    try:
        # setup_s: get_spark() from a cold JVM (launch, context, first
        # trivial action), then one warm-up op, which pays codegen and
        # Python-worker start. One cold start costs ~10 s on a 4-cpu host,
        # so a run makes one; setup_s is compared as the median over runs.
        t0 = time.perf_counter()
        spark = start_session(work)
        gateway = spark.sparkContext._gateway
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        wl.bind(spark)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        engine_cpu = probe.EngineCpu(jvm_pid)
        t0 = time.perf_counter()
        res = wl.op(-1, null)
        warmup = time.perf_counter() - t0
        errors += [f"warm-up: {e}" for e in wl.check(-1, res)]
        # The JVM is still compiling the op's code over its next few runs,
        # which cost up to 1.7x a later op. More untimed ops, a fixed number
        # per workload, let the timed loop start past that steep part at
        # the same point on a fast or a slow host.
        for j in range(2, wl.warmup_ops + 1):
            errors += [f"warm-up {j}: {e}" for e in wl.check(-j, wl.op(-j, null))]
        if args.trace:
            tracer = probe.Tracer(spark, args.workload)

        lat, op_cpu, traced_lat, rows, layer_vals = [], [], [], 0, {}
        attempted = failed = 0
        steal0 = probe.steal_share()
        deadline = time.perf_counter() + args.seconds
        i = 0
        # A traced run goes on until it has traced (odd) op 1.
        while time.perf_counter() < deadline or (args.trace and i < 2):
            # A traced run alternates an untraced op with a traced one
            # (plus that op's layer ladder) so it can report its own
            # tracing overhead on op_p50_s.
            traced = bool(args.trace) and i % 2 == 1
            t = tracer if traced else null
            if traced:
                tracer.op = i
            attempted += 1
            try:
                c0 = engine_cpu()
                t0 = time.perf_counter()
                res = wl.op(i, t)
                dt = time.perf_counter() - t0
                cpu = engine_cpu() - c0
                if args.corrupt:
                    corrupt(res)
                errs = wl.check(i, res)
                if dt > OP_TIMEOUT_S:
                    errs.append(f"timed out: {dt:.1f}s")
                if traced:
                    vals = wl.ladder(i, tracer, res)
                    vals.update(engine_metrics(tracer, dt))
                    for k, v in vals.items():
                        layer_vals.setdefault(k, []).append(float(v))
                    traced_lat.append(dt)
                else:
                    lat.append(dt)
                    op_cpu.append(cpu)
                    rows += res.rows
            except Exception:  # an op that raises is a failed op
                errs = [traceback.format_exc(limit=3)]
            if errs:
                failed += 1
                errors += [f"op {i}: {e}" for e in errs]
            i += 1

        steal = probe.steal_share(steal0)
        companion = getattr(wl, "traced_companion", None)
        if tracer is not None and companion is not None:
            errors += measure_companion(companion(args.seed, args.scale, work / "companion"),
                                        spark, tracer, i, layer_vals)
        peak = probe.vm_hwm_mb() + probe.vm_hwm_mb(jvm_pid)
        wl.release()
        if tracer is not None:
            tracer.dump(work.parent / f"spans-{args.workload}-{args.seed}.json")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors[:5]:
        print(f"perfbench: {e}", file=sys.stderr)
    if not lat:
        print("perfbench: no op completed", file=sys.stderr)
        return 1

    p50 = statistics.median(lat)
    tail_v, tail_pct, beyond = probe.tail(lat)
    cpu_tail_v, _, _ = probe.tail(op_cpu)
    e2e = {
        "setup_s": start_s + warmup,
        "op_cpu_p50_s": statistics.median(op_cpu),
        "op_cpu_tail_s": cpu_tail_v,
        "rows_per_cpu_s": rows / sum(op_cpu),
        "peak_rss_mb": peak,
        "failed_frac": failed / attempted,
        # Wall-clock figures: printed, but not listed in BENCHMARK.json
        # (see NOTES.md, "Why CPU time").
        "op_p50_s": p50,
        "op_tail_s": tail_v,
        "rows_per_s": rows / sum(lat),
    }
    summary = {"workload": args.workload, "seed": args.seed, "ops": len(lat),
               "tail_percentile": round(tail_pct, 2), "tail_samples_beyond": beyond,
               "cpus": cpus(), "steal_share": round(steal, 4), **e2e,
               "op_latencies_s": [round(x, 4) for x in lat],
               "op_cpu_s": [round(x, 3) for x in op_cpu]}
    print(json.dumps({"summary": summary}))
    if args.trace:
        metrics = per_layer(layer_vals, start_s, p50, traced_lat)
    else:
        # failed_frac is carried by "attempted" and "failed"
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def measure_companion(cw, spark, tracer, i: int, layer_vals: dict) -> list[str]:
    """Run a workload that is not in the benchmark's list once untimed and
    once traced, after the timed loop, and record only its own layers'
    metrics. Returns its check errors."""
    import probe

    cw.prepare()
    cw.bind(spark)
    errs = cw.check(-1, cw.op(-1, probe.NullTracer()))
    tracer.op = i
    res = cw.op(i, tracer)
    errs += cw.check(i, res)
    for k, v in cw.ladder(i, tracer, res).items():
        layer_vals.setdefault(k, []).append(float(v))
    cw.release()
    return [f"{cw.name}: {e}" for e in errs]


def engine_metrics(t, op_wall: float) -> dict:
    tot = t.stage_totals("op")
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.idle_core_s": op_wall * cpus() - tot["run_s"],
        "spark.gc_s": tot["gc_s"],
        "driver.plan_s": t.plan_s("op", tot["first_submit"]),
    }


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as listed
    in ``BENCHMARK.json`` at the root of the checkout."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[kind]
    return {m["name"]: m["unit"] for m in spec}


def per_layer(vals: dict, start_s: float, p50: float, traced_lat: list) -> dict:
    """Median of each per-layer metric over the traced ops; layers the
    workload does not run report 0. Tracing overhead below 0 is noise
    between the two medians and reads 0."""
    out = {}
    for name, unit in metric_units("per_layer").items():
        if name == "session.start_s":
            v = start_s
        elif name == "trace.overhead_s":
            v = max(0.0, statistics.median(traced_lat) - p50) if traced_lat else 0.0
        else:
            v = statistics.median(vals[name]) if name in vals else 0.0
        out[name] = {"value": v, "unit": unit}
    return out


def stop_jvm(gateway) -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
