"""Benchmark entry point.

    python3 perfbench/run.py --workload solution_chain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run is one fresh process with a
fixed ``PYTHONHASHSEED``, ``SPARK_GRAFT_CPUS`` set to the usable core
count and every temp root (Spark local dirs, ``TMPDIR``, the JVM's
``java.io.tmpdir``, the warehouse, inputs and project dirs) in a new
directory under ``.perfbench_tmp/`` that is removed at exit.  The
script re-executes itself once to put that environment in place.

A run: set-up (imports, Spark session, seeded inputs, warm-up on the
full-size inputs), a timed phase of identical iterations lasting at
least ``--seconds``, then the output checks.  The last stdout line is
the result JSON; a detail record (iteration series, op tail, spans of
a traced run) goes to stderr.  ``--trace 1`` installs the wrappers of
``spans.py`` and reports the per-layer metrics instead of the
end-to-end ones.  ``--study N`` runs N iterations with no warm-up and
no time limit, for the warm-up noise study in README.md.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fastmlframework_spark"
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
CHILD_FLAG = "PERFBENCH_CHILD"
# A fixed driver heap (-Xms = -Xmx): with the session default of an 8g
# ceiling, G1's adaptive sizing made peak_rss_mb swing by a fifth
# between identical runs; a fixed 2g heap holds it within a few percent.
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--study", type=int, default=0)
    return p.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _fresh_tmp_root() -> str:
    """A new temp root for this run; roots left by killed runs go."""
    os.makedirs(TMP_PARENT, exist_ok=True)
    for name in os.listdir(TMP_PARENT):
        pid = name.rpartition("-")[2]
        if not (pid.isdigit() and _pid_alive(int(pid))):
            shutil.rmtree(os.path.join(TMP_PARENT, name), ignore_errors=True)
    root = os.path.join(TMP_PARENT, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(root, sub))
    return root


def relaunch(argv: list[str]) -> None:
    """Replace this process with one that has the run's environment."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE} package at {ROOT}; run from a checkout root")
    tmp = _fresh_tmp_root()
    env = dict(os.environ)
    env.update(
        {
            CHILD_FLAG: "1",
            "PERFBENCH_T0": repr(T0),
            "PERFBENCH_TMP": tmp,
            "PYTHONHASHSEED": "0",
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": ROOT,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
        }
    )
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)


# ---------------------------------------------------------------------------
# process probes
# ---------------------------------------------------------------------------


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child."""
    kb = _status_kb("self", "VmHWM")
    proc = _jvm_proc()
    if proc is not None:
        kb += _status_kb(proc.pid, "VmHWM")
    return kb / 1024.0


def py_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def jvm_cpu_s() -> float:
    proc = _jvm_proc()
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/stat") as f:
        fields = f.read().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_cpu() -> list[int]:
    """Cumulative host CPU ticks: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_share(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of all host CPU time between two samples;
    other load on the host shows here."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": round(1 - (d[3] + d[4]) / total, 3), "steal": round(d[7] / total, 4)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    import subprocess

    from pyspark import SparkContext

    proc = _jvm_proc()
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as exc:  # the JVM may already be gone
                print(f"perfbench: gateway shutdown: {exc}", file=sys.stderr)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def op_tail(samples: list[float]) -> dict:
    """Latency at the highest percentile with at least 10 samples
    beyond it; None when there are too few samples for one."""
    n = len(samples)
    if n <= 10:
        return {"value": None, "percentile": None, "samples": n}
    s = sorted(samples)
    idx = n - 11  # exactly 10 samples above this one
    return {"value": s[idx], "percentile": round(100.0 * (idx + 1) / n, 1), "samples": n}


def run_iteration(w, spark, probe, tracer, run_id: str) -> dict:
    from workloads import OpLog, release_session_state, storage_mb

    w.before()
    ops = OpLog(tracer)
    rec = {"run": run_id}
    if tracer is not None:
        tracer.run_id = run_id
        rec.update(job0=probe.next_job_id(), py_cpu0=py_cpu_s(), jvm_cpu0=jvm_cpu_s())
    t = time.perf_counter()
    w.iterate(ops)
    rec["wall_s"] = time.perf_counter() - t
    rec["ops"] = ops.ops
    if tracer is not None:
        from fastmlframework_spark.core import checkpoints

        tracer.run_id = "untimed"  # the checks' own calls are not the iteration's
        rec["job1"] = probe.next_job_id()
        rec["py_cpu_s"] = py_cpu_s() - rec.pop("py_cpu0")
        rec["jvm_cpu_s"] = jvm_cpu_s() - rec.pop("jvm_cpu0")
        rec["checkpoints_live"] = len(checkpoints._LIVE)
        rec["storage_mem_mb"] = storage_mb(spark)
    w.after()
    release_session_state(spark)
    return rec


def layer_record(w, rec: dict, probe, tracer) -> tuple[dict, dict]:
    """Per-layer metrics of one traced iteration, plus its span summary."""
    from spans import Tracer, job_metrics

    jobs = probe.jobs(rec["job0"], rec["job1"])
    spans = tracer.run_spans(rec["run"])
    wall = rec["wall_s"]
    m = {f"spark.{k}": v for k, v in job_metrics(jobs).items()}
    m["spark.driver_gap_s"] = wall - m["spark.job_busy_s"]
    m["proc.py_cpu_s"] = rec["py_cpu_s"]
    m["proc.jvm_cpu_s"] = rec["jvm_cpu_s"]
    m["core.checkpoints_live"] = rec["checkpoints_live"]
    m["core.storage_mem_mb"] = rec["storage_mem_mb"]
    m["core.checkpoints_created"] = sum(1 for s in spans if s["name"] == "core.checkpoint")
    m.update(w.layer_metrics(spans, lambda prefix: Tracer.covered_s(spans, prefix)))
    m["trace.layer_coverage"] = m.get("trace.layer_coverage", 0.0) / wall
    m["trace.wall_s"] = wall
    m["trace.spans"] = len(spans)
    return m, Tracer.summary(spans, jobs)


def bench(args, tmp: str) -> tuple[dict, dict]:
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    W = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    setup = {}

    t = time.perf_counter()
    import importlib

    import pyspark.sql  # noqa: F401

    for mod in ("fastmlframework_spark.core.session", "fastmlframework_spark.core.checkpoints", *W.modules):
        module = importlib.import_module(mod)
        if not os.path.abspath(module.__file__).startswith(ROOT + os.sep):
            raise SystemExit(f"perfbench: {mod} imported from {module.__file__}, not from {ROOT}")
    setup["setup.import_s"] = time.perf_counter() - t

    from fastmlframework_spark.core.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    setup["setup.session_s"] = time.perf_counter() - t
    try:
        from spans import SparkProbe, Tracer

        t = time.perf_counter()
        inputs = gen.GENERATORS[W.name](args.seed, os.path.join(tmp, "inputs"))
        setup["setup.inputs_s"] = time.perf_counter() - t
        w = W(spark, inputs, os.path.join(tmp, "work"))
        probe = SparkProbe(spark)
        tracer = Tracer(probe) if args.trace else None
        if tracer is not None:
            w.install_trace(tracer)

        t = time.perf_counter()
        warm = [run_iteration(w, spark, probe, tracer, f"w{i}") for i in range(0 if args.study else W.warmup)]
        setup["setup.warmup_s"] = time.perf_counter() - t
        setup_s = time.time() - T0

        timed = []
        host0 = host_cpu()
        t = time.perf_counter()
        while True:
            timed.append(run_iteration(w, spark, probe, tracer, f"t{len(timed)}"))
            if args.study:
                if len(timed) >= args.study:
                    break
            elif time.perf_counter() - t >= args.seconds:
                break

        host = host_share(host0, host_cpu())
        failures = w.check()
        rss = peak_rss_mb()
        layers, summaries = [], []
        if tracer is not None:
            for rec in timed:
                m, s = layer_record(w, rec, probe, tracer)
                layers.append(m)
                summaries.append(s)
    finally:
        stop_spark(spark)

    walls = [r["wall_s"] for r in timed]
    timed_ops = [op for r in timed for op in r["ops"]]
    all_ops = [op for r in warm + timed for op in r["ops"]]
    op_secs = [secs for _, secs, ok in timed_ops if ok]
    attempted = len(all_ops)
    failed = sum(1 for op in all_ops if not op[2]) + len(failures)
    wall_s = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": w.rows_per_iteration * len(walls) / sum(walls),
        "op_p50_s": statistics.median(op_secs) if op_secs else float("nan"),
        "peak_rss_mb": rss,
    }
    detail = {
        "workload": W.name,
        "seed": args.seed,
        "trace": args.trace,
        **setup,
        "warmup_series_s": [r["wall_s"] for r in warm],
        "timed_series_s": walls,
        "timed_first_to_last": walls[0] / walls[-1],
        "host_cpu_timed": host,
        "warm_last_to_timed_median": (warm[-1]["wall_s"] / wall_s) if warm else None,
        "op_tail_s": op_tail(op_secs),
        "op_samples": len(op_secs),
        "error_rate": failed / max(attempted, 1),
        "failures": failures,
        "ops_by_iteration": [[(n, round(s, 4), ok) for n, s, ok in r["ops"]] for r in warm + timed],
    }
    if tracer is not None:
        per_layer = {k: statistics.median(m.get(k, 0.0) for m in layers) for k in {n for m in layers for n in m}}
        per_layer.update(setup)
        per_layer.update(getattr(w, "check_metrics", dict)())
        metrics = {
            m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        detail["end_to_end_traced"] = e2e
        detail["span_summary"] = summaries[-1]
        detail["layers_by_iteration"] = layers
        detail["spans"] = tracer.spans
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def child(args) -> int:
    tmp = os.environ["PERFBENCH_TMP"]
    out = sys.stdout
    sys.stdout = sys.stderr  # only the result line goes to stdout
    try:
        result, detail = bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass  # another run's root is still there
    print(json.dumps(detail, default=str), file=sys.stderr, flush=True)
    print(json.dumps(result), file=out, flush=True)
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get(CHILD_FLAG) != "1":
        relaunch(argv)
    return child(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
