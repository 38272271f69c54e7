"""Layer-attributed benchmark of the engine: one seeded closed-loop workload
per run, one client, at ``local[<nproc>]``.

    python3 perfbench/run.py --workload star_query_mix --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The next op starts when the previous
one returns; the loop runs whole cycles of the workload's op mix, as
many as ``--seconds`` over the workload's nominal cycle wall, so the op
count never depends on how fast the ops run. Every output is checked outside the timed
region. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with ``--trace
1``. The line before it records the run's settings, versions and input
sizes. The exit code is 0 only when every op ran and passed its check.

Everything the run writes (inputs, tables, indexes, the Spark warehouse,
checkpoints and temp files) lives under ``.perfbench_tmp/`` in the
checkout and is removed when the run ends; a traced run also leaves its
spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "nytimes_batch_processor_spark"


def _jvm_flags(tmp: str) -> str:
    """Keep a JVM's temp files (and no perf-data file) inside ``tmp``."""
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _pin_environment(tmp: str) -> None:
    """Point every temp, scratch and worker path at ``tmp`` and the
    checkout, before pyspark starts the JVM (which inherits the env)."""
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the JVM spark-submit runs to build the driver command; the driver
    # JVM gets the same flags through spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_flags(tmp)
    # Python workers import the engine by name; they find it through the
    # PYTHONPATH the JVM hands them, whatever the launch directory.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_confs(tmp: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": _jvm_flags(tmp),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # job/stage info of every span must survive until the run ends
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every process this run started to end."""
    from pyspark import SparkContext

    from spans import descendants, read_proc_table

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = descendants(read_proc_table(), os.getpid())
        if not left or time.time() > deadline:
            break
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _source_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    _pin_environment(tmp)
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        return _run(args, tmp, workloads)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, tmp: str, workloads) -> int:
    import numpy as np
    import pyspark

    from nytimes_batch_processor_spark import catalog
    from nytimes_batch_processor_spark.session import get_spark
    from spans import Tracer

    catalog.all_specs()  # import every engine module before instrumenting

    nproc = os.cpu_count() or 4
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc, extra_confs=spark_confs(tmp))
    spark.sparkContext.setCheckpointDir(os.path.join(tmp, "checkpoints"))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Context(
            spark=spark,
            tracer=tracer,
            rng=np.random.default_rng(args.seed),
            root=tmp,
            seconds=args.seconds,
            process_start=PROCESS_START,
            session_s=session_s,
        )
        tracer.instrument()
        result = workloads.WORKLOADS[args.workload](ctx)
        metrics, layer = ctx.summarize(result)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
            "engine_source_digest": _source_digest(),
            "session_start_s": session_s,
            "inputs": result.inputs,
            "op_count": len(result.ops),
            "op_tail_percentile": metrics.pop("op_tail_percentile"),
            "op_walls_s": result.walls(),
            "checks": result.notes,
        }
        if args.trace:
            op_ids = {o.span_id for o in result.ops}
            info["traced_op_p50_s"] = metrics["op_p50_s"]
            info["trace_overhead_s_per_op"] = tracer.overhead_s / len(result.ops)
            info["min_op_span_coverage"] = tracer.op_coverage(op_ids)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        _stop_spark(spark)

    failed = sum(1 for o in result.ops if not o.ok)
    correct = failed == 0
    chosen = layer if args.trace else metrics
    units = workloads.LAYER_UNITS if args.trace else workloads.END_TO_END_UNITS
    out = {
        "correct": correct,
        "attempted": len(result.ops),
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    print(json.dumps({"run_info": info}, default=str))
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
