"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds one Spark session
(``local[<cpus>]``), sets the workload up from ``--seed``, runs its
closed loop for ``--seconds`` seconds of measurement, checks every
output, and prints a table of every metric followed, on the last line,
by one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates untraced and traced cycles, starting and
ending with an untraced one, and reports the per-layer metrics.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the spans and the full report of each run are kept in
``.perfbench_work/reports/``.
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
PACKAGE = "map_reduce_framework_using_python_spark"

#: Input sizes per workload. ``--tiny`` selects the smoke-test sizes.
SIZES = {
    "mr_wordcount": {"lines": 100_000},
    "lake_mix": {
        "sf": 0.03,
        "base_docs": 1500, "base_vecs": 600, "batch_docs": 100, "batch_vecs": 40,
    },
}
TINY = {
    "mr_wordcount": {"lines": 300},
    "lake_mix": {
        "sf": 0.001,
        "base_docs": 120, "base_vecs": 80, "batch_docs": 20, "batch_vecs": 10,
    },
}

#: Untimed full-size cycles run before the timed loop. Their ops are
#: checked and counted in ``attempted`` and ``failed``.
WARMUP_CYCLES = 1


def more_cycles(done: int, elapsed: float, seconds: float, trace: bool) -> bool:
    """Whether the timed loop runs another cycle. An untraced run runs at
    least one; a traced run (untraced, traced, untraced, …) at least
    three and ends on an untraced cycle, so every traced cycle has an
    untraced one on each side."""
    if trace:
        return done < 3 or done % 2 == 0 or elapsed < seconds
    return done < 1 or elapsed < seconds


def tracing_overhead(cycle_s: dict[int, float], traced: set[int]) -> float:
    """Median over traced cycles of its time minus the mean of its two
    untraced neighbours', so cycle order does not count as overhead."""
    return statistics.median(
        cycle_s[c] - (cycle_s[c - 1] + cycle_s[c + 1]) / 2 for c in traced
    ) if traced else 0.0


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings (field 8, ``steal``)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def configure_env(work: str, cpus: int) -> None:
    """Point every default location of the program into ``work`` and
    make the package importable by Spark's Python workers. Must run
    before the program is imported: it reads these at import time."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DFS": os.path.join(work, "dfs"),
        "SPARK_GRAFT_INDEX_ROOT": os.path.join(work, "ann"),
        "SPARK_GRAFT_PART_ROOT": os.path.join(work, "part"),
        "SPARK_GRAFT_DEDUP_INDEX_ROOT": os.path.join(work, "dedup"),
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "tables"),
        # The launcher JVM would otherwise keep its perf counters in /tmp.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)


def build_session(work: str, cpus: int):
    from map_reduce_framework_using_python_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        driver_memory="2g",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> float:
    """Stop Spark and wait for the JVM and every process it started;
    returns the JVM's peak RSS in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    jvm_hwm = vm_hwm_mb(proc.pid)
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)
    return jvm_hwm


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tag = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, tag)
    reports = os.path.join(base, "reports")
    os.makedirs(work)
    os.makedirs(reports, exist_ok=True)
    configure_env(work, cpus)
    try:
        return _measure(workload, seed, seconds, trace, tiny, cpus, tag, work, reports)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload, seed, seconds, trace, tiny, cpus, tag, work, reports) -> dict:
    import workloads as wl
    from spans import Tracer, self_times

    t = time.perf_counter()
    spark = build_session(work, cpus)
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark.sparkContext if trace else None)
        sizes = (TINY if tiny else SIZES)[workload]
        w = wl.WORKLOADS[workload](wl.Ctx(spark, tracer, work, seed, sizes))
        w.setup()

        def one_cycle(i: int, traced: bool):
            """Cycle ``i``: its ops and its wall time."""
            w.before(i)
            tracer.active = traced
            t = time.perf_counter()
            got = w.cycle(i)
            wall = time.perf_counter() - t
            tracer.active = False
            w.after(i, traced)
            return got, wall

        warm: list = []
        for i in range(WARMUP_CYCLES):
            warm.extend(one_cycle(i, False)[0])
        if trace:
            w.instrument()
        setup_s = process_age()

        ops: list = []
        cycle_s: dict[int, float] = {}
        traced: set[int] = set()
        first = WARMUP_CYCLES
        ticks, start, i = cpu_ticks(), time.perf_counter(), first
        while more_cycles(i - first, time.perf_counter() - start, seconds, trace):
            if trace and (i - first) % 2 == 1:
                traced.add(i)
            got, cycle_s[i] = one_cycle(i, i in traced)
            ops.extend(got)
            i += 1
        steal = steal_share(ticks, cpu_ticks())
        tracer.restore()

        w.check(warm + ops)
        layers = w.layer_metrics(traced) if trace else {}
        extra = w.metrics(ops)
        driver_hwm = vm_hwm_mb("self")
    finally:
        jvm_hwm = stop_session(spark)

    attempted = len(warm) + len(ops)
    failed = sum(not o.ok for o in warm + ops)
    op_times = [o.seconds for o in ops]
    plain = [cycle_s[c] for c in cycle_s if c not in traced]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cycle_s_p50": (wl.median(plain), "s"),
    }
    info = {
        "peak_rss_mb": (driver_hwm + jvm_hwm, "MB"),
        "op_s_p50": (wl.median(op_times), "s"),
        "failed_op_ratio": (failed / attempted, "ratio"),
        "warmup_cycles": (WARMUP_CYCLES, "count"),
        "cycles": (len(cycle_s), "count"),
        "ops": (len(ops), "count"),
        "host_steal": (steal, "ratio"),
        **extra,
    }
    # A tail percentile is reported only with ≥10 samples beyond it.
    if len(op_times) >= 100:
        info["op_s_p90"] = (wl.quantile(op_times, 0.9), "s")
    if trace:
        selfs = self_times(tracer.spans)
        accounted = {c: 0.0 for c in traced}
        for s, own in zip(tracer.spans, selfs):
            c = int(s.op.split(".")[0]) if s.op else None
            if c in accounted:
                accounted[c] += own
        layers.update({
            "session.get_spark_s": session_s,
            "bench.pretouch_s": w.pretouch_s,
            "trace.cycle_s_p50": wl.median([cycle_s[c] for c in traced]),
            "trace.overhead_s": tracing_overhead(cycle_s, traced),
            "trace.unaccounted_s": wl.median([cycle_s[c] - accounted[c] for c in traced]),
        })
        tracer.dump(os.path.join(reports, f"{tag}.spans.jsonl"))
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cpus": cpus, "session_s": session_s, "pretouch_s": w.pretouch_s,
        "sizes": sizes, "end_to_end": e2e, "workload_metrics": info, "per_layer": layers,
        "attempted": attempted, "failed": failed, "cycle_s": cycle_s,
        "traced_cycles": sorted(traced),
        "warmup_ops": [o.__dict__ for o in warm], "ops": [o.__dict__ for o in ops],
    }
    with open(os.path.join(reports, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return report


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"error: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    report = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)

    e2e, info, layers = report["end_to_end"], report["workload_metrics"], report["per_layer"]
    attempted, failed = report["attempted"], report["failed"]
    print(f"workload {args.workload}  seed {args.seed}  cpus {report['cpus']}  "
          f"ops {attempted}  failed {failed}  correct {failed == 0}")
    for name, (value, unit) in {**e2e, **info}.items():
        print(f"  {name:<28} {value:>14.6g} {unit}")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, value in layers.items():
        print(f"  {name:<48} {value:>14.6g} {units.get(name, '')}")

    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
