"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Run it from the repository root: the package is imported from there
(and Spark's Python workers import it through ``PYTHONPATH``).  All
scratch files live under ``.perfbench_work/`` in the working directory
and are removed at exit.  With ``--trace 0`` the result holds the
end-to-end metrics, with ``--trace 1`` the per-layer ones, by the
names and units ``BENCHMARK.json`` declares (README.md says what each
measures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

import sparkstats

PACKAGE = "ksql_streams_from_schema_converter_spark"
WORKLOADS = ("cdc_replay", "cdc_trickle", "lifecycle_gates")
CPUS = 2


def _environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and make the package importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    sys.path.insert(0, root)


def _log(msg: str) -> None:
    print(f"[perfbench {sparkstats.process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, traced: bool, work: str, units: dict[str, str]) -> dict:
    from ksql_streams_from_schema_converter_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if workload == "lifecycle_gates":
            from gates import GateRun

            bench = GateRun(spark, work, seed)
        else:
            from cdc import CdcRun

            bench = CdcRun(spark, work, seed, workload)
        _log("session up, input staged")
        bench.warm_up()
        setup_s = sparkstats.process_age_s()
        _log("warm-up done")
        e2e, samples = bench.measure(seconds, traced)
        pids = [os.getpid(), sparkstats.jvm_pid(spark)]
        rss = sparkstats.peak_rss_mb(pids)
        _log(f"peak RSS MB python {sparkstats.peak_rss_mb(pids[:1]):.0f} jvm {sparkstats.peak_rss_mb(pids[1:]):.0f}")
        _log(f"measured {len(bench.passes)} passes")
        correct = True
        try:
            samples.update(bench.check_all())
        except AssertionError as e:
            print(f"correctness check failed: {e}", file=sys.stderr)
            correct = False
        _log("checked")
        if workload == "lifecycle_gates":
            attempted = len(bench.passes) * len(bench.gates)
        else:
            attempted = sum(x["numInputRows"] for p in bench.passes for x in p["progress"])
    finally:
        _stop_jvm(spark)
    _log("end-to-end figures of this run: " + json.dumps(e2e))
    if traced:
        triggers = samples.get("streaming.trigger_ms", [])
        samples["streaming.trigger_p50_ms"] = [sparkstats.percentile(triggers, 50)]
        samples["streaming.trigger_p95_ms"] = [sparkstats.percentile(triggers, 95)]
        values = {k: sparkstats.median(samples.get(k, [])) for k in units}
    else:
        values = {**e2e, "setup_s": setup_s, "peak_rss_mb": rss}
    return {
        "correct": correct,
        "attempted": int(attempted),
        "failed": 0,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {root}: run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        _environment(root, work)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
