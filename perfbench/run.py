"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. Builds its inputs from --seed, sets up one
workload, measures it for --seconds, checks every timed result against
blacklab_spark.oracle, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 a traced run's per-layer metrics, and writes
its spans and report under .perfbench/.

Everything the run writes (index dirs, Spark scratch and temp files) lives in
.perfbench/run-<pid>/ inside the checkout and is removed on exit, on failure
too. The JVM and its Python workers are stopped and waited for before the
result is printed.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine(workdir: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python workers
    into `workdir`, and make the checkout importable by the workers."""
    spark_local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(spark_local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = spark_local
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):  # JVM, launcher JVM
        os.environ[var] = (os.environ.get(var, "") + " " + java_opts).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.executor.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def descendants(pid: int) -> list[int]:
    """Live descendant pids of `pid` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop Spark, then the JVM and every process it started; wait for all."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = gateway.proc
    kids = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_stale_runs() -> None:
    """Delete the run dirs of earlier runs that were killed before their own
    clean-up could run."""
    if not os.path.isdir(BENCH_DIR):
        return
    for nm in os.listdir(BENCH_DIR):
        pid = nm[len("run-"):]
        if nm.startswith("run-") and pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(BENCH_DIR, nm), ignore_errors=True)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "blacklab_spark", "__init__.py")):
        log(f"no blacklab_spark package under {ROOT}; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench import workloads as W

    remove_stale_runs()
    workdir = os.path.join(BENCH_DIR, f"run-{os.getpid()}")
    os.makedirs(workdir)
    result = None
    try:
        confine(workdir)
        cores = len(os.sched_getaffinity(0))
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            tracer.install()
            tracer.enabled = True
        from blacklab_spark import session

        t = time.perf_counter()
        spark = session.get_spark("perfbench", cores=cores)
        session_s = time.perf_counter() - t
        if tracer is not None:
            tracer.sc = spark.sparkContext
        run = W.Run(spark, cores, workdir, args.seed, args.seconds, tracer, T0, log)
        workload = W.ingest if args.workload == "ingest" else W.serve
        oracles = workload(run, W.WORKLOADS[args.workload])
        if tracer is not None:
            tracer.enabled = False
        W.check(run, oracles)
        conf = spark.sparkContext.getConf()
        heap_max = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cores": cores, "session_s": session_s,
            "heap_max_mb": heap_max / 2**20,
            "spark_conf": dict(sorted(
                (k, v) for k, v in conf.getAll() if k.startswith("spark.sql")
                or k in ("spark.master", "spark.driver.memory", "spark.local.dir")
            )),
            **run.record,
        }
        if tracer is not None:
            record["jvm_vmhwm_kb"] = _vmhwm(spark)
            record["python_workers"] = len(descendants(_jvm_pid(spark)))
            metrics, report = W.per_layer(run, session_s)
            units = _units("per_layer")
            os.makedirs(BENCH_DIR, exist_ok=True)
            stem = os.path.join(BENCH_DIR, f"trace-{args.workload}-{args.seed}")
            tracer.dump(stem + ".spans.json")
            with open(stem + ".report.json", "w") as f:
                json.dump({"record": record, "metrics": metrics, **report}, f,
                          indent=1, default=str)
            print(json.dumps({"report": report["kinds"]}, default=str))
        else:
            metrics = W.end_to_end(run)
            units = _units("end_to_end")
        print(json.dumps({"record": record}, default=str))
        failed = run.raised + run.mismatched
        result = {
            "correct": failed == 0,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        t = time.perf_counter()
        try:
            stop_spark()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        log(f"stopped in {time.perf_counter() - t:.2f} s; run took {time.time() - T0:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _vmhwm(spark) -> int:
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
