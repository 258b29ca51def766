"""Batch/stream parity: the same compiled pipeline under readStream
(SURVEY.md §5 item 4)."""

import os
import tempfile
import uuid

import pytest

from ksql_streams_from_schema_converter_spark.operators.compiler import FieldSpec
from ksql_streams_from_schema_converter_spark.plans.pipeline import EtlPipeline, PipelineSpec
from ksql_streams_from_schema_converter_spark.streaming.runner import stream_to_batch

SPEC = PipelineSpec(
    schema_name="FBNK_STREAM",
    fields=[
        FieldSpec(name="RECID", transformation="UCASE($)"),
        FieldSpec(name="CUSTOMER_NO"),
        FieldSpec(name="ACCT_NO", should_parse_sv=False, should_parse_vm=True),
    ],
)

ROWS = [
    ("c-1", {"CUSTOMER_NO": "1", "ACCT_NO_multivalue": "1:A#2:B"}),
    ("c-2", {"CUSTOMER_NO": "2", "ACCT_NO_multivalue": "1:C"}),
]
SCHEMA = "recid string, xmlrecord map<string,string>"


def test_stream_matches_batch(spark):
    tmp = os.path.join(tempfile.gettempdir(), f"t24_src_{uuid.uuid4().hex}")
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(tmp)

    batch_out = EtlPipeline(SPEC).apply(spark.read.parquet(tmp)).sink
    stream_src = spark.readStream.schema(SCHEMA).parquet(tmp)
    stream_out = stream_to_batch(spark, SPEC, stream_src)

    key = lambda r: (r["RECID"], r["ACCT_NO"] or "")
    assert sorted(map(key, batch_out.collect())) == sorted(map(key, stream_out.collect()))
    assert set(batch_out.columns) == set(stream_out.columns)


def test_restart_from_checkpoint_never_reprocesses(spark):
    """Exactly-once across restarts: a second run over the same
    checkpoint must only pick up NEW input files — the already-committed
    micro-batch is not re-emitted into the sink."""
    from ksql_streams_from_schema_converter_spark.streaming.runner import (
        run_pipeline_stream,
    )

    base = os.path.join(tempfile.gettempdir(), f"restart_{uuid.uuid4().hex}")
    src_dir, out_dir = os.path.join(base, "src"), os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir)

    def write_input(rows, name):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(src_dir))
        del name

    write_input(ROWS, "batch1")
    source = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q = run_pipeline_stream(spark, SPEC, source, out_dir, checkpoint=ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out_dir)
    # c-1 explodes to two multivalue rows, c-2 to one
    assert sorted(r.RECID for r in first.collect()) == ["C-1", "C-1", "C-2"]

    write_input([("c-3", {"CUSTOMER_NO": "3", "ACCT_NO_multivalue": "1:D"})], "batch2")
    source2 = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q2 = run_pipeline_stream(spark, SPEC, source2, out_dir, checkpoint=ckpt)
    q2.awaitTermination(120)
    after = spark.read.parquet(out_dir)
    # batch-1 rows appear exactly once; only c-3 was processed on restart.
    assert sorted(r.RECID for r in after.collect()) == ["C-1", "C-1", "C-2", "C-3"]


def test_statestore_reader_exposes_aggregation_state(spark, tmp_path):
    """The state-store data source (Spark 4 `statestore` format) must
    read a checkpointed streaming aggregation's live state: per-key
    counts in the store equal the batch groupBy — the observability
    surface for debugging stateful streams without replaying them."""
    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.sources.parquet import (
        load_table,
        stream_table,
    )

    ck = str(tmp_path / "ckpt")
    q = (
        stream_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("ss_agg_probe")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.format("statestore").load(ck)
    got = {
        r["key"]["event_type"]: r["value"]["count"]
        for r in state.collect()
    }
    want = {
        r.event_type: r.n
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_rocksdb_state_store_backs_streaming_aggregation(spark, tmp_path):
    """The 100 TB state-store choice proven live: the same stateful
    aggregation runs with RocksDB-backed state (off-heap, spill-to-
    disk — the provider large state must use; HDFS-backed default
    keeps every key on the JVM heap) and reports rocksdb* commit
    metrics in the query progress.  Values are gated against the
    deterministic CDC derivation, so the provider swap changes the
    state engine, never the answer."""
    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.sources.pydatasource import (
        cdc_row,
        register,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        register(spark)
        src = spark.readStream.format("t24_synth_cdc").option("rows", "1000").load()
        agg = src.groupBy("op").agg(
            F.count("*").alias("n"), F.sum("amount").alias("total")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rocks_gate")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.op: (r.n, r.total) for r in spark.table("rocks_gate").collect()}
        want: dict = {}
        for i in range(1000):
            _, _, op, amount = cdc_row(i)
            n, t = want.get(op, (0, 0))
            want[op] = (n + 1, t + amount)
        assert got == want
        metrics = (q.lastProgress or {}).get("stateOperators", [{}])[0].get(
            "customMetrics", {}
        )
        assert any("rocksdb" in k.lower() for k in metrics), metrics
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_streaming_retraction_restart_recovery_and_replay(spark, tmp_path):
    """VERDICT r9 #4: the streaming retraction loop (docs and tombstone
    batches on ONE source, batch-id-derived labels) survives a restart
    between batches — the checkpoint resumes exactly where it stopped —
    and an at-least-once REDELIVERY of the tombstone or a refresh batch
    overwrites its own ingest and changes nothing."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        build_lsh_index,
        read_verdicts,
        refresh_against_index,
        retract_from_index,
    )
    from ksql_streams_from_schema_converter_spark.operators.indexstore import (
        read_manifest,
    )

    work = str(tmp_path)
    stream_dir = os.path.join(work, "in")
    index_dir = os.path.join(work, "idx")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(stream_dir)
    base = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{k}" for k in range(12))) for i in range(40)],
        "doc_id long, text string",
    )
    ops = [
        base.select(F.lit("doc").alias("kind"), "doc_id", "text"),
        base.where(F.col("doc_id") < 5).select(
            F.lit("doc").alias("kind"),
            (F.col("doc_id") + 100).alias("doc_id"),
            "text",
        ),
        spark.createDataFrame(
            [("retract", i, None) for i in list(range(5)) + list(range(100, 105))],
            "kind string, doc_id long, text string",
        ),
        base.where(F.col("doc_id") < 5).select(
            F.lit("doc").alias("kind"),
            (F.col("doc_id") + 200).alias("doc_id"),
            "text",
        ),
    ]

    def _drop(i, op, t0):
        tmp = os.path.join(work, f"tmp_{i}")
        op.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"op{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def apply_ops(batch_df, batch_id: int) -> None:
        docs = batch_df.where(F.col("kind") == "doc").select("doc_id", "text")
        if not docs.isEmpty():
            if batch_id == 0:
                build_lsh_index(docs, index_dir)
            else:
                refresh_against_index(
                    spark, index_dir, docs, ingest_label=f"b{batch_id}"
                )
        tombs = batch_df.where(F.col("kind") == "retract").select("doc_id")
        if not tombs.isEmpty():
            retract_from_index(spark, index_dir, tombs, label=f"t{batch_id}")

    def _run():
        q = (
            spark.readStream.schema(ops[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(apply_ops)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    t0 = time.time()
    # phase 1: only the first two batches exist; the "crash" is the
    # availableNow drain ending here
    _drop(0, ops[0], t0)
    _drop(1, ops[1], t0)
    _run()
    v1 = {r.doc_id: r.kept for r in read_verdicts(spark, index_dir).collect()}
    assert all(not v1[100 + i] for i in range(5))  # copies dropped
    # phase 2: the tombstone and the post-retraction batch arrive;
    # restart from the SAME checkpoint — batch ids continue at 2, 3
    _drop(2, ops[2], t0)
    _drop(3, ops[3], t0)
    _run()
    v2 = {r.doc_id: r.kept for r in read_verdicts(spark, index_dir).collect()}
    assert not any(i in v2 for i in list(range(5)) + list(range(100, 105)))
    assert all(v2[200 + i] for i in range(5))  # twins retracted -> kept
    assert all(v2[i] for i in range(5, 40))
    # batch-id labels committed once each
    labels = [e["label"] for e in read_manifest(index_dir)]
    assert labels.count("t2") == 1 and labels.count("b3") == 1
    # at-least-once REDELIVERY of the tombstone and the last refresh:
    # same labels, state converges (no double ingest, verdicts frozen)
    before = sorted(map(tuple, read_verdicts(spark, index_dir).collect()))
    retract_from_index(
        spark,
        index_dir,
        list(range(5)) + list(range(100, 105)),
        label="t2",
    )
    refresh_against_index(spark, index_dir, ops[3].select("doc_id", "text"), ingest_label="b3")
    labels = [e["label"] for e in read_manifest(index_dir)]
    assert labels.count("t2") == 1 and labels.count("b3") == 1
    assert sorted(map(tuple, read_verdicts(spark, index_dir).collect())) == before


def test_streaming_ann_retraction_restart_recovery(spark, tmp_path):
    """The ANN twin of the LSH restart test (workload
    streaming_ann_retraction): the IVF-PQ retraction stream survives a
    restart between batches — the checkpoint resumes with continuing
    batch ids — and an at-least-once redelivery of the tombstone batch
    commits its label exactly once and changes no read."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.ann_index import (
        build_ivf_pq_index,
        read_cells,
        refresh_ivf_pq_index,
        retract_from_ann_index,
    )
    from ksql_streams_from_schema_converter_spark.operators.indexstore import (
        read_manifest,
    )

    work = str(tmp_path)
    stream_dir = os.path.join(work, "in")
    index_dir = os.path.join(work, "idx")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(stream_dir)
    base = spark.createDataFrame(
        [
            (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
            for i in range(30)
        ],
        "vec_id long, embedding array<double>",
    )
    copies = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    vec = lambda df: df.select(  # noqa: E731
        F.lit("vec").alias("kind"), "vec_id", "embedding"
    )
    ops = [
        vec(base),
        vec(copies),
        spark.createDataFrame(
            [("retract", 100 + i) for i in range(5)],
            "kind string, vec_id long",
        ).select(
            "kind", "vec_id", F.lit(None).cast("array<double>").alias("embedding")
        ),
    ]

    def _drop(i, op, t0):
        tmp = os.path.join(work, f"tmp_{i}")
        op.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"op{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def apply_ops(batch_df, batch_id: int) -> None:
        vecs = batch_df.where(F.col("kind") == "vec").select(
            "vec_id", "embedding"
        )
        if not vecs.isEmpty():
            if batch_id == 0:
                build_ivf_pq_index(vecs, index_dir, n_cells=4, m=4, ksub=4)
            else:
                refresh_ivf_pq_index(
                    spark, index_dir, vecs, ingest_label=f"b{batch_id}"
                )
        tombs = batch_df.where(F.col("kind") == "retract").select("vec_id")
        if not tombs.isEmpty():
            ids = [r.vec_id for r in tombs.collect()]
            retract_from_ann_index(spark, index_dir, ids, label=f"t{batch_id}")

    def _run():
        q = (
            spark.readStream.schema(ops[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(apply_ops)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    t0 = time.time()
    # phase 1: build + refresh only; the "crash" is the drain ending
    _drop(0, ops[0], t0)
    _drop(1, ops[1], t0)
    _run()
    ids1 = {r.vec_id for r in read_cells(spark, index_dir).collect()}
    assert ids1 == set(range(30)) | {100 + i for i in range(5)}
    # phase 2: the tombstone arrives; restart from the SAME checkpoint
    _drop(2, ops[2], t0)
    _run()
    ids2 = {r.vec_id for r in read_cells(spark, index_dir).collect()}
    assert ids2 == set(range(30))
    labels = [e["label"] for e in read_manifest(index_dir)]
    assert labels.count("t2") == 1 and labels.count("b1") == 1
    # redelivery of the tombstone: same label, nothing changes
    retract_from_ann_index(
        spark, index_dir, [100 + i for i in range(5)], label="t2"
    )
    labels = [e["label"] for e in read_manifest(index_dir)]
    assert labels.count("t2") == 1
    assert {r.vec_id for r in read_cells(spark, index_dir).collect()} == ids2


def test_streaming_pretrain_v6_restart_recovery(spark, tmp_path):
    """The v6 streaming gate (workload streaming_pretrain_v6) survives
    a restart between batches: the checkpoint resumes with continuing
    batch ids, each batch's verdicts commit under a batch-id-derived
    label exactly once, every batch scores under the SAME persisted
    tokenizer artifact, and a replayed batch body (at-least-once
    redelivery) overwrites its own ingest and changes no read."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.indexstore import (
        commit_ingest,
        ingest_paths,
        read_ingests,
        read_manifest,
    )
    from ksql_streams_from_schema_converter_spark.operators.ranking import (
        global_ntile,
    )
    from ksql_streams_from_schema_converter_spark.operators.text import (
        bigram_backoff_surprisal,
    )
    from ksql_streams_from_schema_converter_spark.operators.wordpiece import (
        load_wordpiece_vocab,
        save_wordpiece_vocab,
        wordpiece_alphabet,
        wordpiece_encode,
        wordpiece_train,
    )

    work = str(tmp_path)
    stream_dir = os.path.join(work, "in")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(stream_dir)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    ref = docs.where(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
    merges = {
        r.merged for r in wordpiece_train(ref, n_merges=4, vocab_cap=100).collect()
    }
    alpha = {r.piece for r in wordpiece_alphabet(ref, vocab_cap=100).collect()}
    save_wordpiece_vocab(spark, store, alpha | merges, seq=0)

    def v6_batch(batch_df, batch_id: int) -> None:
        lm = bigram_backoff_surprisal(batch_df, ref_docs=ref).select(
            "doc_id", "bpb_milli"
        )
        binned = global_ntile(
            lm, ["bpb_milli", "doc_id"], 3, out_col="__b"
        ).localCheckpoint(eager=True)
        surv = binned.where(F.col("__b") <= 2).select("doc_id")
        vocab, _ = load_wordpiece_vocab(spark, store, seq=0)
        enc = wordpiece_encode(batch_df.join(surv, "doc_id"), vocab)
        v = (
            batch_df.select("doc_id")
            .join(binned, "doc_id", "left")
            .join(enc.select("doc_id", "n_tokens"), "doc_id", "left")
        )
        vpath = ingest_paths(store, "v6_verdicts", [f"v{batch_id}"])[0]
        v.write.mode("overwrite").parquet(vpath)
        commit_ingest(store, f"v{batch_id}", kind="v6", seq=batch_id)

    def _drop(i):
        tmp = os.path.join(work, f"tmp_{i}")
        docs.where(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        t0 = time.time()
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def _run():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(v6_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def _verdicts():
        vl = [e["label"] for e in read_manifest(store) if e.get("kind") == "v6"]
        return {
            (r.doc_id, r.n_tokens)
            for r in read_ingests(spark, store, "v6_verdicts", vl).collect()
        }

    # phase 1: first batch only; the "crash" is the drain ending
    _drop(0)
    _run()
    v1 = _verdicts()
    assert {d for d, _ in v1} == set(range(0, 40, 2))
    # phase 2: restart from the SAME checkpoint — batch id continues
    _drop(1)
    _run()
    v2 = _verdicts()
    assert {d for d, _ in v2} == set(range(40))
    labels = [e["label"] for e in read_manifest(store) if e.get("kind") == "v6"]
    assert sorted(labels) == ["v0", "v1"]
    # at-least-once redelivery: replaying batch 1's body with the same
    # label overwrites its own ingest and converges (no duplicates, no
    # drift — the tokenizer comes from the store either way)
    v6_batch(docs.where(F.col("doc_id") % 2 == 1), 1)
    assert _verdicts() == v2
    labels = [e["label"] for e in read_manifest(store) if e.get("kind") == "v6"]
    assert sorted(labels) == ["v0", "v1"]


def test_streaming_semdedup_restart_recovery(spark, tmp_path):
    """The streaming SemDeDup gate (workload streaming_semdedup)
    survives a restart between batches: the checkpoint resumes with
    continuing batch ids, each batch reads the FROZEN persisted model
    (seq=0) and the prior keeper store via ``seq < batch_id``, keeper
    and verdict ingests commit under batch-id labels exactly once,
    and a replayed batch body (at-least-once redelivery) recomputes
    against the SAME prior store, overwrites its own ingests, and
    changes no read.  Cross-batch semantics pinned by construction: a
    batch-1 copy of a batch-0 KEEPER drops against the store; a
    within-batch copy drops by dominance."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.clustering import (
        kmeans_fit,
        load_kmeans_model,
        save_kmeans_model,
        semdedup_batch_verdicts,
    )
    from ksql_streams_from_schema_converter_spark.operators.indexstore import (
        commit_ingest,
        ingest_paths,
        read_ingests,
        read_manifest,
    )

    work = str(tmp_path)
    stream_dir = os.path.join(work, "in")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(stream_dir)
    rows = [
        (0, [1.0, 0.0]),     # batch 0: keeper
        (2, [1.0, 0.0]),     # batch 0: in-batch copy of 0 -> drops
        (4, [-1.0, 0.0]),    # batch 0: keeper
        (6, [0.0, 1.0]),     # batch 0: keeper
        (1, [1.0, 0.0]),     # batch 1: copy of stored keeper 0 -> drops
        (3, [0.0, -1.0]),    # batch 1: unique -> keeper
        (5, [-1.0, 0.0]),    # batch 1: copy of stored keeper 4 -> drops
        (7, [0.55, 0.84]),   # batch 1: cos vs 6 = 0.84/1.004 < 0.92 -> keeper
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    save_kmeans_model(spark, store, kmeans_fit(emb, k=2, n_iter=2), seq=0)

    def sem_batch(batch_df, batch_id: int) -> None:
        model, _, two_level = load_kmeans_model(spark, store, seq=0)
        prior = [
            e["label"]
            for e in read_manifest(store)
            if e.get("kind") == "semkeep" and e.get("seq") < batch_id
        ]
        stored = (
            read_ingests(spark, store, "sem_keepers", prior) if prior else None
        )
        verdicts, keepers = semdedup_batch_verdicts(
            batch_df, model, stored, two_level=two_level
        )
        vq = verdicts.localCheckpoint(eager=True)
        kpath = ingest_paths(store, "sem_keepers", [f"sk{batch_id}"])[0]
        keepers.write.mode("overwrite").parquet(kpath)
        commit_ingest(store, f"sk{batch_id}", kind="semkeep", seq=batch_id)
        vpath = ingest_paths(store, "sem_verdicts", [f"sv{batch_id}"])[0]
        vq.write.mode("overwrite").parquet(vpath)
        commit_ingest(store, f"sv{batch_id}", kind="semverdict", seq=batch_id)

    def _drop(i):
        tmp = os.path.join(work, f"tmp_{i}")
        emb.where(F.col("vec_id") % 2 == i).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        t0 = time.time()
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def _run():
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(sem_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def _verdicts():
        vl = [
            e["label"]
            for e in read_manifest(store)
            if e.get("kind") == "semverdict"
        ]
        return {
            (r.vec_id, r.keep)
            for r in read_ingests(spark, store, "sem_verdicts", vl).collect()
        }

    # phase 1: batch 0 only; the "crash" is the drain ending
    _drop(0)
    _run()
    v1 = _verdicts()
    assert v1 == {(0, True), (2, False), (4, True), (6, True)}
    # phase 2: restart from the SAME checkpoint — batch id continues,
    # batch 1 reads batch 0's keepers from the store
    _drop(1)
    _run()
    v2 = _verdicts()
    assert v2 == v1 | {(1, False), (3, True), (5, False), (7, True)}
    labels = sorted(
        e["label"] for e in read_manifest(store) if e.get("kind") == "semkeep"
    )
    assert labels == ["sk0", "sk1"]
    # at-least-once redelivery: replaying batch 1's body recomputes
    # against the SAME prior store (seq < 1), overwrites its own
    # ingests, and converges
    sem_batch(emb.where(F.col("vec_id") % 2 == 1), 1)
    assert _verdicts() == v2


def test_streaming_langid_restart_recovery(spark, tmp_path):
    """The streaming language gate (workload streaming_langid_gate)
    survives a restart between batches: every batch loads the SAME
    frozen seq=0 weights (a degenerate all-zero seq=1 exists, so
    'latest' would mispredict), verdicts commit under batch-id labels
    exactly once, and a replayed batch body converges."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.indexstore import (
        commit_ingest,
        ingest_paths,
        read_ingests,
        read_manifest,
    )
    from ksql_streams_from_schema_converter_spark.operators.langid import (
        apply_langid_classifier,
        load_langid_weights,
        save_langid_weights,
        train_langid_perceptron,
    )
    from ksql_streams_from_schema_converter_spark.operators.text import lang_id

    work = str(tmp_path)
    stream_dir = os.path.join(work, "in")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(stream_dir)
    texts = {
        "en": "the a and of to in is it that was",
        "de": "der die das und ist nicht ein zu mit von",
        "fr": "le la les et est un une des que pour",
    }
    langs = sorted(texts)
    docs = spark.createDataFrame(
        [(i, texts[langs[i % 3]]) for i in range(24)],
        "doc_id long, text string",
    )
    w = train_langid_perceptron(docs, lang_id("text"), n_rounds=4)
    save_langid_weights(spark, store, w, seq=0)
    save_langid_weights(
        spark, store, {lg: {b: 0 for b in wb} for lg, wb in w.items()}, seq=1
    )

    def lid_batch(batch_df, batch_id: int) -> None:
        weights, label = load_langid_weights(spark, store, seq=0)
        assert label == "lid0"
        v = apply_langid_classifier(batch_df, weights).localCheckpoint(
            eager=True
        )
        vpath = ingest_paths(store, "lid_verdicts", [f"lv{batch_id}"])[0]
        v.write.mode("overwrite").parquet(vpath)
        commit_ingest(store, f"lv{batch_id}", kind="lidverdict", seq=batch_id)

    def _drop(i):
        tmp = os.path.join(work, f"tmp_{i}")
        docs.where(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        t0 = time.time()
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def _run():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(lid_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def _verdicts():
        vl = [
            e["label"]
            for e in read_manifest(store)
            if e.get("kind") == "lidverdict"
        ]
        return {
            (r.doc_id, r.lang_pred)
            for r in read_ingests(spark, store, "lid_verdicts", vl).collect()
        }

    _drop(0)
    _run()
    v1 = _verdicts()
    assert {d for d, _ in v1} == set(range(0, 24, 2))
    # the frozen classifier separates the pure-stopword docs exactly
    assert all(p == langs[d % 3] for d, p in v1)
    _drop(1)
    _run()
    v2 = _verdicts()
    assert {d for d, _ in v2} == set(range(24))
    assert all(p == langs[d % 3] for d, p in v2)
    labels = sorted(
        e["label"] for e in read_manifest(store) if e.get("kind") == "lidverdict"
    )
    assert labels == ["lv0", "lv1"]
    # at-least-once redelivery converges
    lid_batch(docs.where(F.col("doc_id") % 2 == 1), 1)
    assert _verdicts() == v2


def test_stream_to_batch_applies_pipeline_once(spark, tmp_path, monkeypatch):
    """stream_to_batch shares one applied sink between the writer and
    the schema read-back: EtlPipeline.apply runs once per drain."""
    src = str(tmp_path / "src")
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(src)
    calls = []
    orig = EtlPipeline.apply

    def counting(self, df):
        calls.append(1)
        return orig(self, df)

    monkeypatch.setattr(EtlPipeline, "apply", counting)
    out = stream_to_batch(
        spark,
        SPEC,
        spark.readStream.schema(SCHEMA).parquet(src),
        str(tmp_path / "out"),
    )
    assert len(calls) == 1
    assert out.count() == 3
