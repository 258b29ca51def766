"""The two CDC workloads: ``cdc_replay`` (a backfill drained in large
triggers) and ``cdc_trickle`` (a live feed drained one small file per
trigger).  Both stage seeded Kafka-wire parquet files and drain them
with ``streaming.runner.run_pipeline_stream`` through ``parse_xml_cdc``
→ ``EtlPipeline`` → parquet sink, one pass per fresh checkpoint."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ksql_streams_from_schema_converter_spark.plans.pipeline import EtlPipeline, PipelineSpec
from ksql_streams_from_schema_converter_spark.sources.kafka import KAFKA_WIRE_SCHEMA, parse_xml_cdc
from ksql_streams_from_schema_converter_spark.streaming.runner import run_pipeline_stream

import cdcgen
import check
from sparkstats import JobWindow, median, trigger_stats

#: (files staged, records per file, files per trigger, warm-up passes).
#: A file is one input split, so files per trigger is the number of
#: tasks a trigger runs, as topic partitions would be for a broker.
SHAPES = {"cdc_replay": (6, 5_000, 2, 2), "cdc_trickle": (10, 1_000, 1, 1)}
#: files the ``cdc_trickle`` restart check drains, stopping after half
RESTART_FILES = 6

_WIRE = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


class CdcRun:
    """One workload's staged input, its spec and its drained passes."""

    def __init__(self, spark, work: str, seed: int, workload: str):
        self.spark = spark
        self.work = work
        self.n_files, per_file, self.files_per_trigger, self.warm_passes = SHAPES[workload]
        self.restart = workload == "cdc_trickle"
        self.spec = PipelineSpec.from_dict(cdcgen.SPEC_DICT)
        self.records = cdcgen.make_records(seed, self.n_files * per_file)
        self.src = os.path.join(work, "input")
        self.restart_src = os.path.join(work, "restart_input")
        os.makedirs(self.src)
        if self.restart:
            os.makedirs(self.restart_src)
        mtime = 1_700_000_000
        for f in range(self.n_files):
            chunk = self.records[f * per_file : (f + 1) * per_file]
            rows = cdcgen.wire_rows(chunk, f * per_file)
            path = os.path.join(self.src, f"part-{f:05d}.parquet")
            pq.write_table(pa.Table.from_arrays([list(c) for c in zip(*rows)], schema=_WIRE), path)
            os.utime(path, (mtime + f, mtime + f))
            if self.restart and f < RESTART_FILES:
                link = os.path.join(self.restart_src, os.path.basename(path))
                os.link(path, link)
        self.per_file = per_file
        self.passes: list[dict] = []

    def source(self, path: str):
        raw = (
            self.spark.readStream.schema(KAFKA_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", self.files_per_trigger)
            .parquet(path)
        )
        return raw.select(*parse_xml_cdc(F.col("value")))

    def drain(self, tag: str, src: str | None = None, stop_after: int | None = None) -> dict:
        """One availableNow pass into a fresh sink; with ``stop_after``
        the query is stopped once that many triggers have committed."""
        sink = os.path.join(self.work, tag, "sink")
        ckpt = os.path.join(self.work, tag, "ckpt")
        t0 = time.perf_counter()
        q = run_pipeline_stream(self.spark, self.spec, self.source(src or self.src), sink, ckpt)
        if stop_after is None:
            q.awaitTermination()
        else:
            while q.isActive and (q.lastProgress or {}).get("batchId", -1) < stop_after - 1:
                time.sleep(0.01)
            q.stop()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"pass {tag} failed: {q.exception()}")
        progress = [json.loads(x.json) for x in q.recentProgress]
        return {"tag": tag, "wall_s": wall, "sink": sink, "progress": progress}

    def measure(self, seconds: float, traced: bool) -> tuple[dict, dict]:
        """Passes back to back until ``seconds`` have passed; returns the
        end-to-end metrics and, when ``traced``, the per-layer ones."""
        layers: dict[str, list[float]] = {}
        if traced:
            layers.update(self.ladder())
        t0 = time.perf_counter()
        while True:
            win = JobWindow(self.spark) if traced else None
            if win:
                win.start()
                t_apply = time.perf_counter()
                EtlPipeline(self.spec).apply(self.source(self.src))
                layers.setdefault("pipeline.apply_ms", []).append(1e3 * (time.perf_counter() - t_apply))
            p = self.drain(f"pass{len(self.passes)}")
            self.passes.append(p)
            if win:
                for k, v in win.stop().items():
                    layers.setdefault(f"spark.{k}", []).append(v)
            if time.perf_counter() - t0 >= seconds:
                break
        elapsed = time.perf_counter() - t0
        records = sum(sum(x["numInputRows"] for x in p["progress"]) for p in self.passes)
        e2e = {
            "records_per_s": records / elapsed,
            "pass_s": median([p["wall_s"] for p in self.passes]),
        }
        return e2e, layers

    def warm_up(self) -> None:
        self.warmup = [self.drain(f"warmup{i}") for i in range(self.warm_passes)]

    def ladder(self) -> dict[str, list[float]]:
        """Batch noop writes over the staged input, one more stage per
        rung: parse; + MAPPED/MULTIVALUE; + SINK projection; + parquet
        write.  Each rung's increment is its layer's time."""
        parsed = self.spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(self.src).select(*parse_xml_cdc(F.col("value")))
        pipe = EtlPipeline(self.spec)
        sink = pipe.apply(parsed).sink
        times = []
        for df in (parsed, pipe.stage_multivalue(pipe.stage_mapped(parsed)), sink):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(1e3 * (time.perf_counter() - t))
        t = time.perf_counter()
        sink.write.mode("overwrite").parquet(os.path.join(self.work, "ladder_sink"))
        times.append(1e3 * (time.perf_counter() - t))
        return {
            "sources.parse_ms": [times[0]],
            "explode.ms": [times[1] - times[0]],
            "compiler.sink_projection_ms": [times[2] - times[1]],
            "sink.write_ms": [times[3] - times[2]],
        }

    # -- checks (untimed) ---------------------------------------------------

    def expected_path(self, records: list, name: str) -> str:
        path = os.path.join(self.work, f"{name}.parquet")
        if not os.path.exists(path):
            check.write_expected(cdcgen.expected_rows(records), path)
        return path

    def check_pass(self, p: dict) -> dict[str, float]:
        """Conservation and exact equality of one full pass; raises on a
        mismatch.  Returns the sink's files, bytes and rows."""
        files = check.committed_files(p["sink"])
        stats = check.sink_stats(files)
        drained = sum(x["numInputRows"] for x in p["progress"])
        with_input = sum(1 for x in p["progress"] if x["numInputRows"] > 0)
        want_rows = sum(cdcgen.fan_out(r) for r in self.records)
        problems = []
        if drained != len(self.records):
            problems.append(f"numInputRows sum {drained} != {len(self.records)} records")
        if stats["rows"] != want_rows:
            problems.append(f"sink rows {stats['rows']} != fan-out sum {want_rows}")
        want_triggers = self.n_files // self.files_per_trigger
        if with_input != want_triggers:
            problems.append(f"{with_input} triggers with input != {want_triggers} ({self.n_files} files staged)")
        missing, extra = check.sink_diff(files, self.expected_path(self.records, "expected"))
        if missing or extra:
            problems.append(f"sink differs from expected: {missing} missing, {extra} extra")
        if problems:
            raise AssertionError(f"{p['tag']}: " + "; ".join(problems))
        return stats

    def check_restart(self) -> None:
        """Stop a drain after half of :data:`RESTART_FILES` triggers,
        restart it from the same checkpoint, and require the sink to
        hold the expected rows exactly once."""
        half = RESTART_FILES // 2
        first = self.drain("restart", src=self.restart_src, stop_after=half)
        second = self.drain("restart", src=self.restart_src)
        files = check.committed_files(second["sink"])
        expected = self.expected_path(self.records[: RESTART_FILES * self.per_file], "expected_restart")
        missing, extra = check.sink_diff(files, expected)
        if missing or extra or not first["progress"]:
            raise AssertionError(f"restart: {missing} rows missing, {extra} duplicated or extra")

    def check_all(self) -> dict[str, list[float]]:
        layers: dict[str, list[float]] = {}
        for p in self.warmup:
            self.check_pass(p)
        for p in self.passes:
            stats = self.check_pass(p)
            t = trigger_stats(p["progress"])
            layers.setdefault("sink.files", []).append(stats["files"])
            layers.setdefault("sink.bytes", []).append(stats["bytes"])
            layers.setdefault("explode.rows_out", []).append(stats["rows"])
            layers.setdefault("streaming.triggers", []).append(len(p["progress"]))
            for src_key, name in (
                ("latestOffset", "sources.latest_offset_ms"),
                ("getBatch", "sources.get_batch_ms"),
                ("queryPlanning", "pipeline.query_planning_ms"),
                ("addBatch", "streaming.add_batch_ms"),
                ("walCommit", "streaming.wal_commit_ms"),
                ("commitOffsets", "streaming.commit_offsets_ms"),
                ("gap", "streaming.inter_trigger_gap_ms"),
                ("triggerExecution", "streaming.trigger_ms"),
            ):
                layers.setdefault(name, []).extend(t[src_key])
        if self.restart:
            self.check_restart()
        return layers
