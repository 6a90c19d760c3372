"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); traces and reports go to
``.perfbench_out/``. The last stdout line is the result JSON:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is a report with every workload-specific figure
(``search_p50_s``, ``exact_qps``, ``analytics_pass_s`` …) and the pinned
environment, plus the layer figures and an ambient-contention probe on
traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oracle_vector_search_spark"
# per-layer figures the runner itself computes (the rest come from the
# workload's ``layer_metrics``)
RUNNER_LAYER_METRICS = (
    "mem.peak_rss_mb",
    "sched.jobs_per_op",
    "sched.stages_per_op",
    "sched.tasks_per_op",
    "trace.overhead_ratio",
)
# measured ops per untraced run, however long they take: the reported
# latency is their median, which one slow op cannot move
MIN_OPS = 3
# a single JVM heap that fits a small shared host; the engine's own
# default (48g) assumes a dedicated large machine
DRIVER_MEM_MB = 2048


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from perfbench.workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark task slots: half the usable CPUs. A task running a pandas
    UDF keeps a Python worker busy beside it, and the driver process
    and the JVM's own threads run too; at one slot per CPU a 4-CPU host
    is oversubscribed (requests measured ~20% slower and less steady
    from run to run than at two slots)."""
    return max(1, host_cpus() // 2)


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4 * DRIVER_MEM_MB


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment, before Spark
    starts: cores, driver memory, local and temp dirs inside the
    checkout, and a PYTHONPATH so Python workers import the package
    from any working directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    mem = min(DRIVER_MEM_MB, host_mem_mb() // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # every JVM (the launcher too): temp files inside the checkout,
        # and no hsperfdata file, which the JVM writes to the system temp
        # directory whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER_SET", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def ambient_probe() -> dict:
    """The repo's fixed-work contention probe (``bench.ambient_probe``),
    in a child process so its 1 GiB buffer never counts toward this
    process's peak RSS."""
    code = (
        "import json, sys; sys.path.insert(0, '.'); import bench; "
        "print(json.dumps(bench.ambient_probe()))"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
            text=True, timeout=60,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except Exception as exc:  # the probe is context, never a failure
        return {"error": repr(exc)}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(wl, tracer, seconds: float, first_op: int, max_ops=None, min_ops=1):
    """Closed loop, one client: ops back to back until ``seconds`` pass
    and at least ``min_ops`` ops are done. Returns per-op records."""
    recs = []
    deadline = time.perf_counter() + seconds
    i = first_op
    while len(recs) < min_ops or time.perf_counter() < deadline:
        if max_ops is not None and len(recs) >= max_ops:
            break
        with tracer.span(wl.op_span, op_id=i) as rec:
            out, split = wl.op(i)
        recs.append({
            "op": i,
            "s": rec["end"] - rec["start"],
            "split": split,
            "out": out,
            "sched": (rec["jobs"], rec["stages"], rec["tasks"]),
        })
        i += 1
    return recs


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"error: {PACKAGE}/ not found next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(work)
    try:
        return run(args, work, out_dir, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str, env: dict) -> int:
    import statistics

    from perfbench import gen
    from perfbench.trace import Tracer, check_nesting
    from perfbench.workloads import WORKLOADS as W

    t0 = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0

    from oracle_vector_search_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = W[args.workload](spark, manifest, work, tracer)
        if args.trace:
            wl.install_trace()
        wl.setup()
        wl.uninstall_trace()
        setup_s = time.perf_counter() - t_setup
        wl.prepare_checks()  # outside every timing

        tracer.enabled = False
        if args.trace:
            # untraced and traced ops alternate, so both sit at the same
            # point of the warm-up curve for the overhead ratio
            plain, traced = [], []
            deadline = time.perf_counter() + args.seconds
            while not plain or time.perf_counter() < deadline:
                i = len(plain) + len(traced)
                plain += run_loop(wl, tracer, 0, i, max_ops=1)
                tracer.enabled = True
                wl.install_trace()
                traced += run_loop(wl, tracer, 0, i + 1, max_ops=1)
                wl.uninstall_trace()
                tracer.enabled = False
        else:
            plain = run_loop(wl, tracer, args.seconds, 0, min_ops=MIN_OPS)
            traced = []
        recs = plain + traced

        results = wl.check([r["out"] for r in recs])
        failed_msgs = list(wl.failures)
        failed = len(wl.failures)
        for r, bad in zip(recs, results):
            if bad:
                failed += 1
                failed_msgs += bad[:3]
        attempted = len(recs) + wl.setup_checks
        nest = check_nesting(tracer.spans)
        if nest:
            failed += 1
            attempted += 1
            failed_msgs += nest[:3]

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        lat = [r["s"] for r in plain]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "ops": len(plain),
            "op_latencies_s": lat,
            "setup_s": setup_s,
            "session_start_s": session_s,
            "gen_s": gen_s,
            "error_rate": failed / attempted,
            "peak_rss_mb": peak_rss,
            **wl.report(plain),
        }
        if args.trace:
            n_ops = len(plain)
            sched = [r["sched"] for r in plain]
            layer = {
                "mem.peak_rss_mb": peak_rss,
                "sched.jobs_per_op": sum(s[0] for s in sched) / n_ops,
                "sched.stages_per_op": sum(s[1] for s in sched) / n_ops,
                "sched.tasks_per_op": sum(s[2] for s in sched) / n_ops,
                "trace.overhead_ratio": statistics.median(r["s"] for r in traced)
                / statistics.median(lat),
                **wl.layer_metrics(tracer, traced),
            }
            report["layers"] = layer
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"layers": layer},
            )
    finally:
        stop_spark(spark)

    report["failures"] = failed_msgs[:20]
    report["env"] = {**env, "host_cpus": host_cpus(), "host_mem_mb": host_mem_mb()}
    if args.trace:
        # after Spark has stopped, so it neither perturbs nor is perturbed
        report["ambient"] = ambient_probe()
    with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    print(json.dumps({"report": {k: v for k, v in report.items() if k != "op_latencies_s"}}, default=str))
    print(result_line(spec, report, args.trace, attempted, failed))
    return 0


def result_line(spec: dict, report: dict, trace: int, attempted: int, failed: int) -> str:
    """The final stdout line: every end-to-end metric (untraced) or
    every per-layer metric (traced) named in BENCHMARK.json, with its
    unit, at full precision."""
    keys = spec["per_layer" if trace else "end_to_end"]
    src = report["layers"] if trace else report
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(src[m["name"]]), "unit": m["unit"]}
            for m in keys
        },
    })


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
