"""Benchmark entry point.

    python3 graftbench/run.py --workload ingest|dashboard \
        --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process on
``local[nproc]``:

1. set the launch environment (``PYTHONPATH``, ``SPARK_GRAFT_CPUS``,
   ``SPARK_LOCAL_DIRS``, ``SPARK_GRAFT_DRIVER_MEM``) and a wiped work
   root under ``.graftbench/work/``;
2. make the seeded inputs and expected outputs (pure Python, recorded
   as ``gen_s``), then start the session and warm up: ``setup_s`` is
   process start to the first timed pass, less ``gen_s``;
3. with ``--trace 0``, run timed passes until ``--seconds`` have passed
   (at least one); with ``--trace 1``, run one pass with spans and
   job-group counts on between two untraced passes (the overhead
   baseline), then the workload's layer-by-layer measurements;
4. check the outputs against the oracles (after all timing).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
untraced, its per-layer metrics traced). The full run record (launch
environment, host context, passes, spans, problems) goes to
``.graftbench/runs/<run id>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict, dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "realtime_financial_transactions_data_pipeline_spark"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: object
    record: dict = field(default_factory=dict)


def launch_env(work: str) -> dict[str, str]:
    """Environment the session and its Python workers start with: the
    package importable from any worker cwd, one executor slot per
    available core, spill under the run's work root, and a driver
    heap that is a quarter of the host's memory (at most 4 GiB)."""
    with open("/proc/meminfo") as fh:
        total_kib = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    heap_gib = max(1, min(4, total_kib // (4 << 20)))
    return {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kib = int(next(l for l in fh if l.startswith("VmHWM")).split()[1])
    return kib / 1024


def calibrate() -> float:
    """Seconds for a fixed pure-Python CPU loop (host speed context)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


def measure(args, spec: dict, run_id: str, work: str, record: dict) -> dict:
    from graftbench.stats import median_n
    from graftbench.trace import Tracer
    from graftbench.workloads import WORKLOADS
    from realtime_financial_transactions_data_pipeline_spark.session import get_spark

    # Inputs and expected outputs are pure Python and not the program's
    # work: made before the session starts and left out of setup_s.
    ctx = Ctx(None, work, args.seed, 0, None, record)
    w = WORKLOADS[args.workload]()
    g0 = time.perf_counter()
    w.prepare(ctx)
    gen_s = time.perf_counter() - g0

    tmp = os.environ["TMPDIR"]
    spark = get_spark("graftbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false"})
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx.spark, ctx.cores = spark, spark.sparkContext.defaultParallelism
        ctx.tracer = Tracer(spark, run_id, enabled=False)
        w.warm(ctx)
        setup_s = time.perf_counter() - T_START - gen_s

        layers = {}
        if not args.trace:
            passes = []
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < args.seconds:
                passes.append(w.run_pass(ctx))
            timed = passes
        else:
            # The traced pass is compared with one untraced pass on
            # either side of it, so slow drift on the host cancels. Work
            # that only the traced pass does to take a measurement
            # (``probe_s``) is not overhead of the tracer.
            before = w.run_pass(ctx)
            ctx.tracer.enabled = True
            traced = w.run_pass(ctx)
            ctx.tracer.enabled = False
            after = w.run_pass(ctx)
            ctx.tracer.enabled = True
            layers = w.layers(ctx, traced)
            around = (before.wall_s + after.wall_s) / 2
            layers["trace_overhead_share"] = (
                traced.wall_s - traced.detail.get("probe_s", 0.0) - around) / around
            passes, timed = [before, traced, after], [before, after]
        pass_s, n_passes = median_n(p.wall_s for p in timed)
        op_s, n_ops = median_n(o for p in timed for o in p.op_s)
        if args.trace:
            layers["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
            layers["op_p50_s"], layers["op_samples"] = op_s, n_ops
            record["spans"] = ctx.tracer.records()
        attempted, failed, problems = w.check(ctx)

        e2e = {"setup_s": setup_s, "pass_s": pass_s}
        record.update({
            "gen_s": gen_s,
            "samples": {"passes": n_passes, "ops": n_ops, "op_p50_s": op_s},
            "passes": [asdict(p) for p in passes],
            "attempted": attempted, "failed": failed, "problems": problems,
            "failed_share": failed / max(attempted, 1),
            "peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid),
            "end_to_end": e2e, "per_layer": layers,
        })
        record["host"].update({
            "defaultParallelism": ctx.cores,
            "calib_s": calibrate(),
            "loadavg_end": os.getloadavg(),
        })
    finally:
        stop_session(spark)

    if args.trace:
        wanted, got = spec["per_layer"], layers
        every = tuple(p for w in WORKLOADS.values() for p in w.layer_prefixes)
        own = WORKLOADS[args.workload].layer_prefixes
        # A workload reports its own layers and the shared ones; the
        # layers it never calls read 0 ("should not move" made visible).
        missing = [m["name"] for m in wanted if m["name"] not in got
                   and (m["name"].startswith(own) or not m["name"].startswith(every))]
        if missing:
            raise RuntimeError(f"per-layer metrics not produced: {missing}")
    else:
        wanted, got = spec["end_to_end"], e2e
    return {
        "correct": failed == 0 and not problems,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"graftbench: package {PKG} not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".graftbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    env = launch_env(work)
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "launch_env": {k: env[k] for k in (
            "PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM")},
        "host": {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": os.getloadavg()},
    }
    try:
        result = measure(args, spec, run_id, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = os.path.join(ROOT, ".graftbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{run_id}.json"), "w") as fh:
        json.dump(record | {"result": result}, fh, indent=1, default=str)
    for p in record["problems"][:20]:
        print(f"graftbench: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
