"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts one Spark driver on
``local[n]`` (n = cores available to the process), writes its inputs
(the test tables in ``data/``, rows permuted by the seed) and drives the
driver as one closed-loop client: a cold first pass, then as many warm
passes as fill about half of ``--seconds`` at the workload's nominal
pass time (at least two).
Each operation is timed from outside, from the call into the engine's
public entry point to its return. Caches are never cleared and GC is
never forced between operations.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
engine's layer entry points with timing shims (tracing.py), traces the
cold pass and two of four warm passes, prints the per-layer metrics
(layers.py) and writes the spans to ``.perfbench/traces/``.

Everything else the run writes lives in a fresh directory under
``.perfbench/`` that is removed at exit. The last line of stdout is the
result JSON; the line before it is the run context (cores, seed, load
average, CPU steal, sample counts, per-operation medians, errors).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import gen
import layers
import tracing
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[1]
MIN_WARM_PASSES = 2
#: warm passes of a traced run: untraced, traced, traced, untraced, so
#: a linear warm-up trend cancels out of the tracing overhead
TRACED_WARM = (False, True, True, False)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: Path) -> dict:
    """Point every scratch location at ``work`` before the JVM starts;
    returns the Spark conf that does the same inside the session."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir()
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # the heap starts at its maximum, so peak RSS does not depend on
    # when the collector chose to grow it
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}",
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    }


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n <= 10:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def cpu_steal_s() -> float:
    """CPU time the host took from this machine, all cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str) -> float:
    """High-water resident set of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # with hash randomisation on, repeated runs of one workload and
        # seed spread visibly more; fix the hash seed for every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    factory, nominal_pass_s = WORKLOADS[args.workload]
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=ROOT / ".perfbench"))
    load_start = os.getloadavg()[0]
    spark = None
    try:
        conf = hermetic_env(work)
        os.chdir(work)
        sys.path.insert(0, str(ROOT))
        t0 = time.perf_counter()
        from pyspark import SparkContext

        import pipelines_spark.flows  # noqa: F401
        import pipelines_spark.queries  # noqa: F401
        from pipelines_spark.session import get_spark

        import_s = time.perf_counter() - t0
        cores = len(os.sched_getaffinity(0))
        master = f"local[{cores}]"

        # set-up: launch the JVM and bring the session up, once; a
        # restart inside a running JVM is a path the engine never takes
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=master, shuffle_partitions=cores, extra_conf=conf)
        session_s = time.perf_counter() - t0
        setup_s = import_s + session_s

        # inputs and oracles: untimed, and not the program's memory
        inputs = str(work / "inputs")
        rows = gen.write_inputs(inputs, args.seed)
        workload = factory()
        workload.prepare(spark, inputs, str(work), args.seed)
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # restart this process's RSS high-water mark

        tracer = tracing.Tracer(spark)
        if args.trace:
            tracer.install()
        steal = cpu_steal_s()
        warm = len(TRACED_WARM) if args.trace else max(
            MIN_WARM_PASSES, int(args.seconds / 2 / nominal_pass_s)
        )
        result = measure(spark, workload, tracer, warm, args.trace)
        steal = cpu_steal_s() - steal

        rss = {
            "jvm": peak_rss_mb(SparkContext._gateway.proc.pid),
            "python": peak_rss_mb("self"),
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cores,
            "master": master,
            "sf": gen.SF,
            "input_rows": rows,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "cpu_steal_s_during_passes": steal,
            "import_s": import_s,
            "session_start_s": session_s,
            "peak_rss_mb_by_process": rss,
            **result["context"],
            **workload.context(),
        }
        if args.trace:
            metrics = layers.compute(result, tracer.spans, setup_s, rows["lineitem"])
            context["spans_file"] = write_trace(tracer, context, metrics, args)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "first_pass_s": (result["first_pass_s"], "s"),
                "pass_s": (result["pass_s"], "s"),
                "op_geomean_s": (result["op_geomean_s"], "s"),
                "peak_rss_mb": (rss["jvm"] + rss["python"], "MB"),
            }
        context["errors"] = result["errors"][:20]
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        os.chdir(ROOT)
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    if spark is not None:
        spark.stop()
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(spark, workload, tracer, warm_passes: int, trace: int) -> dict:
    """Cold pass, then ``warm_passes`` warm passes. The count does not
    depend on how fast the passes go, so the warm median sits at the
    same point of the JIT warm-up curve in every run."""
    passes = []
    attempted = failed = 0
    errors: list[str] = []
    storage = []  # (bytes, rdds) cached after each op, traced runs only
    for pass_no in range(warm_passes + 1):
        cold = pass_no == 0
        traced = bool(trace) and (cold or TRACED_WARM[(pass_no - 1) % len(TRACED_WARM)])
        record = {"no": pass_no, "traced": traced, "ops": []}
        for op in workload.ops(pass_no):
            attempted += 1
            ok = True
            t0 = time.perf_counter()
            try:
                if traced:
                    op.state["tracer"] = tracer
                    tracer.enabled = True
                    with tracer.op(f"p{pass_no}:{op.name}", op.kind):
                        op.run(op)
                else:
                    op.run(op)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                ok = False
                errors.append(f"pass {pass_no} {op.name}: {traceback.format_exc(limit=3)}")
            finally:
                tracer.enabled = False
            seconds = time.perf_counter() - t0
            if traced:
                tracer.collect_jobs()
            if trace:
                storage.append(tracing.storage_snapshot(spark))
            if ok and op.verify is not None and (cold or op.kind != "query"):
                problems = op.verify(op)
                errors.extend(f"pass {pass_no}: {p}" for p in problems)
                ok = not problems
            op.state.clear()
            failed += not ok
            record["ops"].append({"name": op.name, "kind": op.kind, "s": seconds})
        record["time"] = sum(o["s"] for o in record["ops"])
        record["facts"] = workload.pass_facts(pass_no)
        if cold:
            problems = workload.verify_pass(pass_no)
            errors.extend(f"pass 0: {p}" for p in problems)
            failed += len(problems)
        passes.append(record)

    warm = passes[1:]
    measured = [p for p in warm if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for p in measured:
        for o in p["ops"]:
            per_op.setdefault(o["name"] if o["kind"] == "query" else o["kind"], []).append(o["s"])
    op_medians = {k: statistics.median(v) for k, v in per_op.items()}
    samples = [o["s"] for p in measured for o in p["ops"]]
    tail = tail_percentile(samples)
    return {
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "storage": storage,
        "first_pass_s": passes[0]["time"],
        "pass_s": statistics.median(p["time"] for p in measured),
        "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in op_medians.values())),
        "context": {
            "warm_pass_s": [p["time"] for p in warm],
            "warm_passes_measured": len(measured),
            "op_samples": len(samples),
            "op_p50_s": statistics.median(samples),
            "op_tail": {"percentile": tail[0], "value_s": tail[1], "n": len(samples)} if tail else None,
            "op_median_s": op_medians,
        },
    }


def write_trace(tracer, context, metrics, args) -> str:
    """Write the run context, the per-layer metrics and every span, one
    JSON object a line; returns the file's path."""
    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}.jsonl"
    with open(path, "w") as f:
        f.write(json.dumps({"context": context, "metrics": metrics}) + "\n")
        for rec in tracer.spans:
            f.write(json.dumps(rec) + "\n")
    return str(path.relative_to(ROOT))


if __name__ == "__main__":
    sys.exit(main())
