#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with
``--trace 0``, every per-layer metric with ``--trace 1``). The line
before it records the environment: Spark conf, cores, RAM and library
versions. Everything the run writes goes under ``.perfbench_work/``
in the checkout and is removed at the end.

Sequence of one run:

1. generate the seeded inputs in a child process (``perfbench/gen.py``;
   its own tests check that a seed always gives the same files);
2. start a ``local[<cores>]`` session, with shuffle partitions equal
   to the cores;
3. an untimed cold pass (its time is part of ``setup_s``);
4. ``--trace 0``: ``seconds // pass_s`` timed passes (at least one),
   where ``pass_s`` is the workload's nominal pass time, so a run
   measures for about ``--seconds``; ``--trace 1``: an untraced pass, a
   traced pass that forces each layer on its own (see README.md), and
   another untraced pass.

Every pass checks its results; a wrong or failed result is a failed
operation.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _environ(work: str) -> None:
    """Keep every scratch file of Spark and Python inside ``work`` and
    size the session for a small machine through the library's own
    knobs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("MPES_SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str):
    from mpes_spark.session import get_spark

    n = _cores()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp; JVM scratch files under work
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _environment_record(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": _cores(),
        "ram_mb": round(_ram_mb()),
        "python": sys.version.split()[0],
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def _generate(workload: str, work: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", workload, os.path.join(work, "inputs"), str(seed)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _metrics(declared: list[dict], values: dict) -> dict:
    names = {m["name"] for m in declared}
    if set(values) != names:
        raise RuntimeError(
            f"metrics do not match BENCHMARK.json: missing {sorted(names - set(values))}, "
            f"extra {sorted(set(values) - names)}"
        )
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}


def run(args, spec: dict) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    t_run = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _environ(work)
    try:
        inputs = _generate(args.workload, work, args.seed)
        gen_s = inputs["gen_s"]
        attempted = failed = 0
        wl = WORKLOADS[args.workload](inputs, work)

        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        try:
            passes = [wl.run_pass(spark, 0)]
            warm_s = passes[0].wall_s
            setup = {"gen_s": gen_s, "session.start_s": session_s, "session.warm_pass_s": warm_s}
            if args.trace:
                # untraced passes on both sides of the traced one, so the
                # overhead estimate is not skewed by the warming trend
                passes.append(wl.run_pass(spark, 1))
                layers, traced = wl.traced_pass(spark, Tracer(spark), 2)
                passes += [traced, wl.run_pass(spark, 3)]
            else:
                # a fixed count, not "until time is up": pass times keep
                # falling for a few passes, so a count that depends on
                # how fast this run happens to be shifts the median
                for _ in range(max(1, int(args.seconds // wl.pass_s))):
                    passes.append(wl.run_pass(spark, len(passes)))
                setup["pass_walls_s"] = [p.wall_s for p in passes[1:]]
            attempted += sum(p.attempted for p in passes)
            failed += sum(p.failed for p in passes)

            if args.trace:
                values = {m["name"]: 0 for m in spec["per_layer"]} | layers
                values.update({
                    "session.start_s": session_s,
                    "session.warm_pass_s": warm_s,
                    "trace.wall_s": traced.wall_s,
                    "trace.overhead_s": traced.wall_s - (passes[1].wall_s + passes[3].wall_s) / 2,
                })
                metrics = _metrics(spec["per_layer"], values)
            else:
                timed = passes[1:]
                wall = statistics.median(p.wall_s for p in timed)
                metrics = _metrics(spec["end_to_end"], {
                    "setup_s": gen_s + session_s + warm_s,
                    "wall_s": wall,
                    "rows_per_s": wl.input_rows / wall,
                    "op_p50_s": statistics.median(s for p in timed for s in p.op_s),
                    "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                    "success_rate": (attempted - failed) / attempted,
                })
            env = _environment_record(spark)
        finally:
            _stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env.update(workload=args.workload, seed=args.seed, trace=args.trace, setup=setup,
               input_rows=wl.input_rows, run_s=time.perf_counter() - t_run)
    print("perfbench-env " + json.dumps(env))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return _fail(f"{spec_path} not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "mpes_spark")):
        return _fail(f"no mpes_spark package under {ROOT}: run from a source checkout")
    sys.path.insert(0, ROOT)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, spec)
    except Exception as exc:  # noqa: BLE001 - report and exit non-zero, no result line
        import traceback

        traceback.print_exc()
        return _fail(f"run failed: {type(exc).__name__}: {exc}")
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
