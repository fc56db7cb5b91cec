"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload transcripts_warm --seed 1 --seconds 10 --trace 0

Run it from the repository root. It fits Spark to the host (all CPUs,
a driver heap inside the host's memory, scratch space inside the
checkout), generates the seeded inputs in a subprocess, sets up, runs
a cold unit and the warm-up units, then units back to back for
``--seconds``, checks every unit's output against an oracle outside
the engine, and prints one metric per line followed by one JSON
object. The metric names, units and the split between end-to-end and
per-layer come from BENCHMARK.json: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans around
every module call, Spark event log on, units alternately traced and
untraced so the tracing overhead is measured in the same run, then the
workload's companions for the layers it does not reach itself).

Exit status: 0 when every unit passed its oracle, 1 when one did not
(the JSON is still printed), 2 when the repository is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# local mode is one JVM; 3g holds the 2M-turn input and a unit's
# persisted results without spilling, and leaves the 15 GB host to its
# neighbours (get_spark defaults to 48g)
DRIVER_MEM = "3g"


def host_settings() -> dict[str, str]:
    """Environment for this process and every JVM it starts."""
    cache = os.path.join(ROOT, ".perfbench_cache")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(cache, "spark_local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(cache, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    }
    os.environ.update(env)
    return env


def versions() -> dict[str, str]:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    line = next((ln for ln in (java.stderr + java.stdout).splitlines() if " version " in ln), "unknown")
    return {"pyspark": pyspark.__version__, "java": line}


def run_unit(w, uid: str, kind: str, traced: bool, units: list) -> None:
    """One unit of ``w``, timed and, when ``traced``, spanned and labelled
    with its own job group; appended to ``units``."""
    from workloads import Unit

    u = Unit(uid, kind)
    u.traced = traced
    w.tracer.enabled = traced
    w.tracer.trace_id = uid
    in_process = w.spark is not None
    if traced and in_process:
        w.set_group(uid)
    u.t0 = time.time()
    cpu0 = w.cpu_s() if in_process else 0.0
    t0 = time.perf_counter()
    try:
        with w.tracer.span("unit"):
            w.unit(u)
    except Exception as e:  # a failed unit is counted, not fatal
        u.error = f"{u.uid}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    u.wall = u.wall or time.perf_counter() - t0
    u.cpu = u.cpu or w.cpu_s() - cpu0
    u.t1 = u.t0 + u.wall
    if traced and in_process:
        u.out.update(w.job_counts(uid))
        w.set_group(None)
    units.append(u)
    if in_process:
        w.between()
    print(f"# unit {uid} ({kind}) {u.wall:.3f} s wall {u.cpu:.3f} s cpu"
          f"{' FAILED ' + u.error if u.error else ''}",
          flush=True)


def run_units(w, seconds: float):
    """Set up, then the cold, warm-up and timed units; returns
    ({setup_s, setup_wall_s}, units, peak_rss_mb)."""
    units: list = []
    w.tracer.trace_id = "setup"
    t0, cpu0 = time.perf_counter(), w.cpu_s()
    with w.tracer.span("setup"):
        w.setup()
    if w.spark is not None:
        run_unit(w, "cold", "cold", w.trace, units)  # the first unit in the fresh JVM
        for i in range(w.warmups):
            run_unit(w, f"warmup{i}", "warmup", w.trace, units)
    setup = {"setup_wall_s": time.perf_counter() - t0, "setup_s": w.cpu_s() - cpu0}
    if w.spark is not None:
        from workloads import reset_hwm

        reset_hwm(w.jvm_pid)
    min_units = max(w.min_units, 2) if w.trace else w.min_units
    start = time.perf_counter()
    i = 0
    while i < min_units or time.perf_counter() - start < seconds:
        # traced runs alternate: even units traced, odd units plain
        run_unit(w, f"u{i}", "timed", w.trace and i % 2 == 0, units)
        i += 1
    timed = [u for u in units if u.kind == "timed"]
    peak = w.peak_rss_mb(timed)
    return w.setup_metrics(setup, [u for u in timed if not u.error]), units, peak


def run_companions(w, units: list) -> None:
    """After the timed window, in ``w``'s session: each companion's
    set-up, a cold unit unless the host's units ran its code path, one
    traced unit, its oracle and its per-layer numbers, which join
    ``w``'s."""
    for c in w.companions:
        c.spark, c.jvm_pid, c.tracer = w.spark, w.jvm_pid, w.tracer
        own: list = []
        c.tracer.trace_id = f"{c.name}.setup"
        with c.tracer.span("setup"):
            c.setup()
        if not c.warm_in_host:
            run_unit(c, f"{c.name}.cold", "companion", True, own)
        run_unit(c, f"{c.name}.u0", "companion", True, own)
        c.check(own)
        c.layers([u for u in own if not u.error and u.uid.endswith(".u0")])
        w.layer.update(c.layer)
        units += own


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use < 1)")
    a = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hjsonschema_spark", "__init__.py")):
        print(f"perfbench: no hjsonschema_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    settings = host_settings()
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[a.workload](a.seed, bool(a.trace), a.scale)
    print("# host " + json.dumps({
        "cpus": settings["SPARK_GRAFT_CPUS"], "driver_mem": DRIVER_MEM,
        "local_dir": os.path.relpath(settings["SPARK_LOCAL_DIRS"], ROOT), **versions()}), flush=True)

    gen0 = time.perf_counter()
    w.prepare()
    print(f"# inputs ready in {time.perf_counter() - gen0:.3f} s (excluded from setup_s)", flush=True)
    try:
        setup, units, peak = run_units(w, a.seconds)
        w.check(units)
        run_companions(w, units)
    finally:
        w.teardown()

    timed = [u for u in units if u.kind == "timed"]
    ok = [u for u in timed if not u.error]
    failed = [u for u in units if u.error]
    for u in failed:
        print(f"# FAILED {u.error}", flush=True)
    metrics = measured_metrics(w, setup, units, ok, peak, a.trace)
    for name, v in sorted(metrics.items()):
        print(f"# measured {name} {v:.6g}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    for name, v in out.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    print(f"failed_share {metrics['failed_share']:.6g} 1  ({len(failed)} of {len(units)} units)")
    if a.trace:
        os.makedirs(workloads.OUT, exist_ok=True)
        w.tracer.write(os.path.join(workloads.OUT, f"spans_{a.workload}_s{a.seed}.jsonl"))
    print(json.dumps({
        "correct": not failed and bool(ok),
        "attempted": len(units),
        "failed": len(failed),
        "metrics": out,
    }))
    return 0 if not failed and ok else 1


def measured_metrics(w, setup, units, ok, peak, trace) -> dict[str, float]:
    from tracing import median

    wall, cpu = median([u.wall for u in ok]), median([u.cpu for u in ok])
    # w.rows: input rows one unit validates, turns on the transcript workloads
    m = {
        **setup,
        "wall_s": wall,
        "turns_per_s": w.rows / wall if wall else 0.0,
        "cpu_s": cpu,
        "turns_per_cpu_s": w.rows / cpu if cpu else 0.0,
        "peak_rss_mb": peak,
        "failed_share": sum(1 for u in units if u.error) / len(units),
    }
    # only an in-process workload has a first unit in a fresh JVM; every
    # CLI unit is one, and its cost is cpu_s
    cold = next((u for u in units if u.kind == "cold"), None)
    if cold:
        m.update(cold_wall_s=cold.wall, cold_cpu_s=cold.cpu)
    if not trace:
        return m
    traced = [u for u in ok if u.traced]
    plain = [u for u in ok if not u.traced]
    m["session.start_s"] = median(w.tracer.durations("session.get_spark", {"setup"}))
    m["sources.load_s"] = median(w.tracer.durations("sources.load", {"setup"}))
    m["trace.unit_self_s"] = median(w.tracer.self_times("unit", {u.uid for u in traced}))
    if traced and plain:
        m["trace.overhead_s"] = median([u.wall for u in traced]) - median([u.wall for u in plain])
    w.layers(traced)
    m.update(w.layer)
    per = w.spark_by_unit(traced)
    for k in next(iter(per.values()), {}):
        m[f"spark.{k}"] = median([per[u.uid][k] for u in traced])
    return m


if __name__ == "__main__":
    sys.exit(main())
