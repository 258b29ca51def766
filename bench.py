"""Benchmark harness: runs the workload's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is materialized with a count()-style full execution
(``df.write.format("noop")`` — runs the whole plan without sink cost).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ksql_streams_from_schema_converter_spark.session import get_spark
from ksql_streams_from_schema_converter_spark.workload import WORKLOAD


def _warmup(spark, sf_dir: str) -> None:
    """JVM/codegen/Arrow spin-up + hot base tables — shared by the
    main run and the isolated adjudication child, so both measure the
    engine under the same preamble."""
    # Warm-up: JVM/codegen spin-up and the shared T24 CDC fixture (input
    # construction, not engine work) are excluded from per-query timings.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # decimal-aggregate and local-relation codegen paths: first use costs
    # seconds of JIT that would otherwise be misattributed to whichever
    # query happens to run first
    spark.range(100_000).selectExpr(
        "sum(cast(id as decimal(18,2)) * cast(1.1 as decimal(8,6)))"
    ).collect()
    spark.createDataFrame([("w", 1)], "a string, b int").write.format(
        "noop"
    ).mode("overwrite").save()
    from ksql_streams_from_schema_converter_spark.sources.parquet import TABLE_NAMES, load_table
    from ksql_streams_from_schema_converter_spark.sources.t24_fixture import orders_cdc

    orders_cdc(spark, sf_dir).count()
    # Python/Arrow worker-pool startup (pandas import in each of the 32
    # workers) is one-time environment spin-up, not engine work — warm
    # it so the first mapInPandas query isn't charged for it.
    spark.range(1_000_000).repartition(64).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # Hot-data benchmark methodology: persist the base tables once so
    # per-query timings measure the engine's execution, not repeated
    # parquet IO/decode of the same small inputs (Spark's CacheManager
    # substitutes InMemoryRelation into every later scan of these paths).
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).persist().count()


def _rerun_mode(names: list[str]) -> None:
    """Isolated-adjudication child (VERDICT r12 #2): a FRESH session —
    own JVM, same warmup preamble — runs each named query 3x and
    prints one JSON line ``{"rerun": {name: [t1, t2, t3]}}``.  The
    parent attaches these to its normalized flags so every flag ships
    with its own isolated re-run numbers in the same BENCH_FULL.json,
    and no round opens with unadjudicated post-commit flags."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)
    out: dict[str, object] = {}
    for name in names:
        if name not in WORKLOAD:
            out[name] = {"err": "unknown query"}
            continue
        fn, _ = WORKLOAD[name]
        runs = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
            out[name] = runs
        except Exception as e:
            out[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
    print(json.dumps({"rerun": out}, separators=(",", ":")))


#: re-adjudicate at most this many flags per run (worst normalized
#: ratios first) — bounds the child session's added wall-clock
_ADJUDICATE_CAP = 8


def _self_adjudicate(flags: dict) -> dict:
    """Spawn the isolated child for the flagged queries and fold its
    3x re-run numbers back into each flag entry with a verdict:
    ``flap`` if the best isolated run is within 1.5x of the committed
    baseline (the same rule the manual adjudications applied in
    r10-r12), else ``regression``.  Returns a summary for the
    calibration record; on any child failure the flags stay
    unadjudicated with the error recorded (never fails the bench)."""
    import subprocess

    ranked = sorted(
        flags, key=lambda n: -flags[n]["normalized_ratio"]
    )
    chosen = ranked[:_ADJUDICATE_CAP]
    summary: dict = {"reran": chosen, "skipped_over_cap": ranked[_ADJUDICATE_CAP:]}
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--rerun", ",".join(chosen)],
            capture_output=True,
            text=True,
            timeout=2400,
        )
        line = [
            ln for ln in proc.stdout.splitlines() if ln.startswith('{"rerun"')
        ]
        if not line:
            raise ValueError(
                f"no rerun record in child stdout (rc {proc.returncode}): "
                f"{proc.stderr[-300:]}"
            )
        reruns = json.loads(line[-1])["rerun"]
        for name in chosen:
            runs = reruns.get(name)
            flags[name]["isolated_runs"] = runs
            if isinstance(runs, list) and runs:
                flags[name]["isolated_verdict"] = (
                    "flap"
                    if min(runs) <= flags[name]["prev"] * 1.5
                    else "regression"
                )
            else:
                flags[name]["isolated_verdict"] = "child_error"
    except Exception as e:  # adjudication must never fail the bench
        summary["error"] = f"{type(e).__name__}: {e}"[:300]
    return summary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)

    # Each query is timed TWICE and the min reported: plans are
    # deterministic, so the min is the engine signal — a single-shot
    # number on a shared local[32] brands a healthy plan as a
    # regression after one GC/scheduling hiccup (r02: q8/q12 recorded
    # 5-8 s, re-run 1.4-1.7 s). The second run reuses the persisted
    # inputs but re-executes the full plan (noop sink defeats no
    # result caching).
    # VERDICT r8 #7: iterative frontier loops are ~a dozen sequential
    # sub-second jobs, so one scheduling hiccup anywhere in the chain
    # moves the total as much as a sub-2s query's single job — the same
    # noise class the <2s median rule exists for.  Queries named here
    # report the median of 3 regardless of magnitude.
    _MEDIAN3 = {"bfs_hops_from_supplier1", "bfs_landmark_distances"}
    # VERDICT r9 #7: the same-tree variance record shows a DIFFERENT
    # pair of untouched 1-4s multi-job queries (streaming triggers,
    # iterative fits, short bloom/kmeans chains) crossing 1.5x each
    # full run and reverting on the next — min-of-2 cannot absorb one
    # GC/scheduler hiccup spread across many sub-second jobs.  The
    # median-of-3 rule therefore covers everything whose best run is
    # under this bound; min-of-2 stays the signal for the heavy
    # plan-dominated queries above it.
    _MEDIAN3_BOUND = 5.0
    timings: dict[str, object] = {}
    both_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, (fn, _) in WORKLOAD.items():
        # time fn() too: streaming entries execute eagerly inside it,
        # and plan construction is part of a query's cost
        runs: list[float] = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            # Short queries are dominated by trigger/checkpoint/GC
            # variance, so min-of-2 branded healthy plans as regressions
            # (VERDICT r5 What's-wrong #2, widened to the documented
            # 1-4s multi-job noise class by VERDICT r9 #7): take a 3rd
            # run and report the MEDIAN for those; min-of-2 stays the
            # signal for the heavier queries where the plan dominates.
            if min(runs) < _MEDIAN3_BOUND or name in _MEDIAN3:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
                timings[name] = sorted(runs)[1]
            else:
                timings[name] = min(runs)
            both_runs[name] = runs
        except Exception as e:  # one bad query must never zero the round
            msg = f"{type(e).__name__}: {e}"
            timings[name] = {"err": msg[:300]}
            errors[name] = msg[:300]

    total = round(sum(t for t in timings.values() if isinstance(t, float)), 3)
    result = {
        "metric": "workload_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "methodology": (
            "hot-data: base tables persisted once; min of 2 runs per "
            "query; a query whose best run is under 5 s (or that is "
            "named in the median set) gets a 3rd run and reports the "
            "median of the three, because short multi-job queries are "
            "where one GC or scheduler hiccup moves a run by more than "
            "1.5x; operators release their internal caches at query "
            "end, so every run is cold"
        ),
        "sf": sf,
    }
    # Ambient-drift calibration (VERDICT r10 #6): whole-run variance
    # (VM/steal noise inflating EVERY query 25-40% in one run) has
    # dominated regression adjudication.  Against the PREVIOUS
    # COMMITTED BENCH_FULL.json — read via ``git show HEAD:`` so
    # back-to-back runs in one tree keep calibrating against the same
    # committed baseline instead of each other (ADVICE r11: the
    # on-disk file is overwritten below, so reading it would compound
    # drift run over run); the working-tree file is only the fallback
    # when git is unavailable — the median timing ratio over the
    # large stable sub-2s query class estimates the run's ambient
    # factor; per-query regressions are then flagged on the
    # NORMALIZED ratio (raw ratio / ambient factor) > 1.5, so a
    # uniformly slow run flags nothing and a genuinely regressed
    # query still stands out.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH_FULL.json")
    calibration: dict = {"ambient_factor": None}
    try:
        import subprocess

        try:
            blob = subprocess.run(
                ["git", "-C", here, "show", "HEAD:BENCH_FULL.json"],
                capture_output=True,
                text=True,
                timeout=30,
                check=True,
            ).stdout
            prev = json.loads(blob).get("queries", {})
            baseline_src = "git:HEAD"
        except (subprocess.SubprocessError, OSError, ValueError):
            with open(full_path) as fh:
                prev = json.load(fh).get("queries", {})
            baseline_src = "working-tree (git unavailable)"
        ratios = sorted(
            timings[n] / p
            for n, p in prev.items()
            if isinstance(p, float)
            and 0.05 <= p < 2.0
            and isinstance(timings.get(n), float)
        )
        if len(ratios) >= 20:
            amb = ratios[len(ratios) // 2]
            flags = {
                n: {
                    "prev": p,
                    "now": timings[n],
                    "raw_ratio": round(timings[n] / p, 3),
                    "normalized_ratio": round(timings[n] / p / amb, 3),
                }
                for n, p in prev.items()
                if isinstance(p, float)
                and p >= 0.5
                and isinstance(timings.get(n), float)
                and timings[n] / p / amb > 1.5
            }
            calibration = {
                "ambient_factor": round(amb, 4),
                "n_calibration_queries": len(ratios),
                "calibration_class": "prev median in [0.05s, 2s)",
                "baseline": baseline_src,
                "normalized_flags": flags,
            }
            # Self-adjudication (VERDICT r12 #2): the driver's
            # post-commit rerun always postdates the final commit, so
            # every round used to open with last round's unexplained
            # flags.  Re-run each flag 3x in an ISOLATED child session
            # right here, attach the numbers + verdict to the flag,
            # and the record ships pre-adjudicated.
            if flags:
                calibration["self_adjudication"] = _self_adjudicate(flags)
    except (OSError, ValueError, ZeroDivisionError):
        pass  # first run in a tree: no previous record to calibrate to
    result["ambient_calibration"] = calibration
    # Full per-query record (incl. both run times) to a file: the
    # driver's stdout tail truncates the head of long lines, losing the
    # first ~45 timings of the single-line JSON.
    with open(full_path, "w") as fh:
        json.dump({**result, "runs": both_runs}, fh, indent=1, sort_keys=True)
    # Print exactly ONE JSON line (VERDICT r4 nit: multiple printed
    # records pile up in the driver's tail capture).  The driver records
    # only the LAST 2000 stdout chars and parses what it finds there
    # (BENCH_r03: a 130-query line overflowed the tail → parsed:null),
    # so the one line is a compact, fully-self-contained summary sized
    # well under the tail window: headline metric plus the slowest
    # per-query timings that fit; the full record is BENCH_FULL.json.
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries_full": "BENCH_FULL.json",
        "queries": {},
    }
    floats = sorted(
        ((n, t) for n, t in timings.items() if isinstance(t, float)),
        key=lambda kv: -kv[1],
    )
    for n, t in floats:
        compact["queries"][n] = t
        if len(json.dumps(compact, separators=(",", ":"))) > 1400:
            del compact["queries"][n]
            break
    print(json.dumps(compact, separators=(",", ":")))
    if errors:
        print(f"bench: {len(errors)} queries errored: {sorted(errors)}", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--rerun":
        _rerun_mode([n for n in sys.argv[2].split(",") if n])
    else:
        main()
