"""Streaming late-data semantics (SURVEY.md §5.3).

The reference runs with WatermarkStrategy.noWatermarks() and no event
time at all (MSK-S/.../DataStreamJob.java:163); the engine makes late
data explicit: rows older than the watermark are dropped, windows are
finalized once the watermark passes.

Determinism trick: instead of racing a live stream, run the SAME
checkpointed query twice with availableNow. The watermark persists in
the checkpoint commit log, so run 2 starts with run 1's frontier — a
late row in run 2's input is genuinely late, with no sleeps or triggers
to tune.
"""

from __future__ import annotations

import pytest
import json

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_windowed_counts(spark, src_dir, ckpt, out_dir):
    """One availableNow pass over src_dir; finalized windows emitted
    DURING THIS RUN land in out_dir (a fresh dir per run, so each run's
    emissions are observable separately). The memory sink can't recover
    from a checkpoint, so the sink is foreachBatch -> parquet."""
    schema = StructType(
        [StructField("ts", StringType()), StructField("k", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .select(F.to_timestamp("ts").alias("ts"), "k")
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _bid: batch.write.mode("append").parquet(out_dir)
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import os

    if not os.path.exists(out_dir):
        return {}
    return {
        r.window_start.isoformat(): r.n
        for r in spark.read.parquet(out_dir).collect()
    }


def test_watermark_drops_late_rows(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    # Run 1: events at 10:00 and 10:20 -> watermark ends at 10:15, so the
    # 10:00 window is finalized and emitted; 10:20 stays open in state.
    _write_jsonl(
        src / "f1.jsonl",
        [
            {"ts": "2024-06-01 10:00:10", "k": "a"},
            {"ts": "2024-06-01 10:00:20", "k": "b"},
            {"ts": "2024-06-01 10:20:00", "k": "c"},
        ],
    )
    out1 = _run_windowed_counts(spark, str(src), ckpt, str(tmp_path / "out1"))
    assert out1 == {"2024-06-01T10:00:00": 2}

    # Run 2 (same checkpoint): one late row at 10:05 (< the 10:15
    # frontier -> MUST be dropped, else it would immediately emit a
    # finalized 10:05 window) and one fresh row at 10:30 that pushes the
    # watermark to 10:25, flushing the 10:20 window.
    _write_jsonl(
        src / "f2.jsonl",
        [
            {"ts": "2024-06-01 10:05:00", "k": "late"},
            {"ts": "2024-06-01 10:30:00", "k": "d"},
        ],
    )
    out2 = _run_windowed_counts(spark, str(src), ckpt, str(tmp_path / "out2"))
    assert "2024-06-01T10:05:00" not in out2, "late row leaked past watermark"
    assert out2 == {"2024-06-01T10:20:00": 1}


def test_stateful_dedup_across_restarts(spark, tmp_path):
    """dropDuplicates state survives a checkpointed restart: a key seen
    in run 1 must not be re-emitted by run 2."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = StructType([StructField("k", StringType())])

    def run(name):
        import os

        out_dir = str(src.parent / name)
        dedup = spark.readStream.schema(schema).json(str(src)).dropDuplicates(["k"])
        q = (
            dedup.writeStream.foreachBatch(
                lambda batch, _bid: batch.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if not os.path.exists(out_dir):
            return set()
        return {r.k for r in spark.read.parquet(out_dir).collect()}

    _write_jsonl(src / "f1.jsonl", [{"k": "x"}, {"k": "y"}, {"k": "x"}])
    assert run("dedup_run1") == {"x", "y"}
    _write_jsonl(src / "f2.jsonl", [{"k": "x"}, {"k": "z"}])
    assert run("dedup_run2") == {"z"}, "key from run 1 re-emitted after restart"


def test_split_source_replays_multiple_microbatches(spark):
    """The streaming catalog entries must certify MULTI-batch behavior:
    the split file source yields one micro-batch per range file, so
    state/watermark transitions between batches are real."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        streaming_queries as sq,
    )

    sf_dir = "/root/testdata/sf0.001"
    for name, builder in (
        ("st02_stream_watermark_append", sq.st02_stream_watermark_append),
        ("st03_stream_dedup", sq.st03_stream_dedup),
        ("st14_stream_incremental_dedup", sq.st14_stream_incremental_dedup),
        ("st21_stream_zscore_anomaly", sq.st21_stream_zscore_anomaly),
    ):
        builder(spark, sf_dir).collect()
        short = name.split("_")[0]
        assert sq.LAST_RUN_BATCHES[short] >= sq.N_STREAM_FILES, (
            name,
            sq.LAST_RUN_BATCHES,
        )


def test_python_stream_source_runs_multiple_microbatches(spark):
    """The custom Python stream source (sources/docgen.py) must deliver
    its bounded corpus across REAL micro-batches (offset cursor advances
    rows_per_batch at a time), and the landed corpus must be exactly the
    ids [0, max_rows) with no duplicates — offset tracking, not luck."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        streaming_queries as sq,
    )

    out = sq.st12_python_stream_source(spark, "/root/testdata/sf0.001")
    assert out.agg({"n_docs": "sum"}).collect()[0][0] == 120
    assert sq.LAST_RUN_BATCHES["st12"] >= 3


def test_run_foreach_batch_surfaces_body_error_and_restores_confs(
    spark, tmp_path
):
    """The drain helper's failure contract (st14's): a raising
    foreachBatch body surfaces its error from run_foreach_batch, the
    body ran with AQE off and the session's shuffle partitions, and
    both session confs are back at their prior values afterwards."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_foreach_batch,
    )

    aqe, parts = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    seen = {}

    def body(batch, batch_id):
        seen.update(
            aqe=batch.sparkSession.conf.get(aqe),
            parts=batch.sparkSession.conf.get(parts),
        )
        raise RuntimeError("drain-helper-body-failure")

    before = {k: spark.conf.get(k) for k in (aqe, parts)}
    spark.conf.set(aqe, "true")
    spark.conf.set(parts, "7")
    try:
        with pytest.raises(Exception, match="drain-helper-body-failure"):
            run_foreach_batch(
                stream,
                body,
                "fb_fail",
                checkpoint=str(tmp_path / "ckpt"),
                adaptive=False,
            )
        assert seen == {"aqe": "false", "parts": "7"}
        assert spark.conf.get(aqe) == "true"
        assert spark.conf.get(parts) == "7"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_outer_interval_join_null_emission_frontier(spark, tmp_path):
    """Pins st13's emission rule: a left row's null-padded result emits
    only when err_ts < global watermark (STRICT — a row exactly AT the
    watermark stays in state), where the global watermark is the min
    across both sides of max-event-time minus the 1-minute delay. Three
    errors straddle the frontier: below emits, at and above do not."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    T = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (0, T - datetime.timedelta(minutes=5), 99, "error", 1.0, None),
        (1, T, 100, "error", 1.0, None),  # exactly at the watermark
        (2, T + datetime.timedelta(minutes=1), 101, "error", 1.0, None),
        (3, T + datetime.timedelta(minutes=30), 999, "click", 1.0, None),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, r in enumerate(rows):  # one file per row -> one micro-batch each
        part = str(tmp_path / f"f{i}")
        df.filter(F.col("event_id") == r[0]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        for f in glob.glob(os.path.join(part, "*.parquet")):
            shutil.copy(f, os.path.join(src, f"part-{i}.parquet"))

    ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "1 minute")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "left_outer",
    ).select("err_id", "click_id", "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_frontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM outer_frontier").collect()
    assert sorted((r.err_id, r.click_id) for r in out) == [(0, None)]


def test_incremental_dedup_state_survives_restart(spark, tmp_path):
    """st14's runner: the accumulated fingerprint state lives in storage,
    so an arrival in a post-restart batch that duplicates a PRE-restart
    arrival is still dropped, and restart + catch-up produces exactly
    the one-shot result."""
    import os
    import shutil

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.functions.text import (
        doc_fingerprint,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.llmops import (
        _lsh_bands_df,
        signatures_from_docs,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_incremental_dedup,
    )

    X = "the first arrival document with plenty of tokens for shingles"
    Y = "a second distinct arrival whose text also has enough tokens here"
    Z = "corpus resident text that an arrival will duplicate exactly soon"
    V = "another corpus resident wholly unrelated to every arrival text"
    W = "a genuinely fresh post restart arrival with novel token content"

    corpus = spark.createDataFrame(
        [(100, Z), (101, V)], "doc_id long, text string"
    )
    corpus_fps = corpus.select(doc_fingerprint(F.col("text")).alias("fp")).distinct()
    corpus_bands = _lsh_bands_df(signatures_from_docs(corpus))

    def write_file(src, name, rows, mtime):
        p = os.path.join(src, name)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(p + ".tmp")
        import glob

        part = glob.glob(os.path.join(p + ".tmp", "part-*.parquet"))[0]
        shutil.move(part, p)
        shutil.rmtree(p + ".tmp")
        os.utime(p, (mtime, mtime))

    def arrivals_stream(src):
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    base = 1_700_000_000
    file_a = [(1, X), (2, Y)]
    file_b = [(4, Z), (5, X)]  # 4 exact-dups the corpus, 5 dups arrival 1
    file_c = [(7, Y), (8, W)]  # 7 dups a PRE-restart arrival

    # One-shot reference: all three files in a single run.
    src1 = str(tmp_path / "src_oneshot")
    os.makedirs(src1)
    for i, (nm, rows) in enumerate(
        [("a.parquet", file_a), ("b.parquet", file_b), ("c.parquet", file_c)]
    ):
        write_file(src1, nm, rows, base + 10 * i)
    one_shot = run_incremental_dedup(
        spark,
        arrivals_stream(src1),
        corpus_fps,
        corpus_bands,
        str(tmp_path / "work_oneshot"),
    )
    one_shot_rows = {(r.doc_id, r.n_corpus_candidates) for r in one_shot.collect()}
    assert {d for d, _ in one_shot_rows} == {1, 2, 8}

    # Restarted: files a+b, stop, then c appears and the SAME work root
    # and checkpoint resume.
    src2 = str(tmp_path / "src_restart")
    os.makedirs(src2)
    write_file(src2, "a.parquet", file_a, base)
    write_file(src2, "b.parquet", file_b, base + 10)
    work = str(tmp_path / "work_restart")
    phase1 = run_incremental_dedup(
        spark, arrivals_stream(src2), corpus_fps, corpus_bands, work
    )
    phase1_ids = {r.doc_id for r in phase1.collect()}
    assert phase1_ids == {1, 2}

    write_file(src2, "c.parquet", file_c, base + 20)
    phase2 = run_incremental_dedup(
        spark, arrivals_stream(src2), corpus_fps, corpus_bands, work
    )
    restart_rows = {(r.doc_id, r.n_corpus_candidates) for r in phase2.collect()}
    assert {d for d, _ in restart_rows} == {1, 2, 8}, (
        "doc 7 duplicates a pre-restart arrival and must stay dropped"
    )
    assert restart_rows == one_shot_rows


def test_index_maintenance_appends_then_compacts_with_pruning(spark):
    """st15 contract: (a) the stream really ran multi-batch, (b) the
    append dir holds one file per cell per non-empty batch while the
    compacted dir holds one per cell, (c) a cell-filtered read of the
    compacted index prunes partitions instead of scanning them."""
    import glob as g
    import os

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_INDEX_DIRS,
        LAST_RUN_BATCHES,
        N_STREAM_FILES,
    )

    out = get_spec("st15_stream_index_maintenance").build(
        spark, "/root/testdata/sf0.001"
    )
    cells = [r["cell"] for r in out.select("cell").collect()]
    assert LAST_RUN_BATCHES["st15"] >= N_STREAM_FILES
    append_dir, compact_dir = LAST_INDEX_DIRS["st15"]
    some_cell = min(cells)
    appended = g.glob(
        os.path.join(append_dir, f"cell={some_cell}", "part-*.parquet")
    )
    compacted = g.glob(
        os.path.join(compact_dir, f"cell={some_cell}", "part-*.parquet")
    )
    assert len(appended) >= 2  # one shard per batch that hit the cell
    assert len(compacted) == 1  # compaction collapsed them
    pruned = spark.read.parquet(compact_dir).filter(F.col("cell") == some_cell)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:300]
    assert "cell" in seg and f"= {some_cell})" in seg, seg


def test_dedup_within_watermark_expiry_and_reemission(spark, tmp_path):
    """st17's contract, on hand-controlled micro-batches: a duplicate
    arriving while the key's state lives is SUPPRESSED; the same key
    arriving after the watermark passed its state is EMITTED AGAIN
    (state-bounded dedup trades exactly this); an unrelated key emits
    once."""
    import os
    import time as _time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    def ts(minutes):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        return base + datetime.timedelta(minutes=minutes)

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    src = tmp_path / "src"
    os.makedirs(src)
    batches = [
        # batch 1: A and B at t0, plus a duplicate of A in-batch
        [(1, "a", ts(0)), (1, "a", ts(1)), (2, "b", ts(0))],
        # batch 2: advances the watermark to t40 (> A/B expiry at ~t10)
        [(9, "z", ts(50))],
        # batch 3: state eviction applies the watermark computed at the
        # END of batch 2 (one-batch lag) — A/B state drops here
        [(8, "y", ts(55))],
        # batch 4: A recurs after expiry -> must emit again
        [(1, "a", ts(60))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))
    # one file per batch, mtime-ordered
    import glob as g

    files = []
    for i in range(len(batches)):
        (part,) = g.glob(str(src / f"b{i}" / "part-*.parquet"))
        dst = src / f"file{i}.parquet"
        os.rename(part, dst)
        files.append(dst)
    base = _time.time() - 1000
    for i, f in enumerate(files):
        os.utime(f, (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "file*.parquet"))
    )
    out = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_to_memory,
    )

    rows = sorted(
        (r["user_id"], r["event_type"])
        for r in run_to_memory(out, "st17fix", "append").collect()
    )
    # A emitted twice (once per state generation), dup suppressed;
    # B and the two watermark-advancers once each.
    assert rows == [
        (1, "a"), (1, "a"), (2, "b"), (8, "y"), (9, "z"),
    ], rows


def test_st18_serves_queries_across_real_micro_batches(spark):
    """st18 contract: queries were answered over MULTIPLE triggers (the
    %50 filter spreads them across every replay batch — a single-batch
    run would prove nothing about serving), and the per-trigger answers
    unioned in the result log equal the batch brute-force exactly:
    arrival order must not change a single neighbor or rank."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.similarity import (
        knn_join,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import get_spec
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_RUN_BATCHES,
        N_STREAM_FILES,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.batch import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    served = get_spec("st18_stream_knn_serving").build(spark, sf_dir)
    assert LAST_RUN_BATCHES["st18"] >= N_STREAM_FILES

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    batch = knn_join(queries, em.filter(F.col("vec_id") % 50 != 0), k=3)
    got = {tuple(r) for r in served.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def _mk_arrival_files(
    spark, tmp_path, name, files, schema="doc_id long, text string"
):
    """Write doc_id-ordered single-file micro-batch sources with
    strictly increasing mtimes (the file source processes oldest
    first)."""
    import glob
    import os
    import shutil

    src = str(tmp_path / name)
    os.makedirs(src)
    base = 1_700_000_000
    for i, (fname, rows) in enumerate(files):
        p = os.path.join(src, fname)
        spark.createDataFrame(rows, schema).coalesce(
            1
        ).write.mode("overwrite").parquet(p + ".tmp")
        part = glob.glob(os.path.join(p + ".tmp", "part-*.parquet"))[0]
        shutil.move(part, p)
        shutil.rmtree(p + ".tmp")
        os.utime(p, (base + 10 * i, base + 10 * i))
    return src


def _arrivals_stream(spark, src):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


@pytest.mark.slow
def test_stream_verified_neardups_multibatch(spark, tmp_path):
    """st14b's runner contract: each micro-batch's LSH candidates are
    exact-Jaccard verified against the matched corpus docs, the
    verified pair set is batch-boundary independent (one-shot == split
    replay), and exact duplicates never reach the verify stage."""
    import os

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.functions.text import (
        doc_fingerprint,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.llmops import (
        _lsh_bands_df,
        _trigrams,
        normalized_text,
        signatures_from_docs,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_incremental_dedup,
    )

    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    ).split()
    Z = " ".join(words)  # 30 tokens
    Z_near = Z + " appended"  # tail edit: 28 of 29 trigrams shared
    V = " ".join(w + "x" for w in words)  # disjoint token universe
    V_near = V + " extra"
    U = "totally unrelated short text with its own distinct tokens only"

    corpus = spark.createDataFrame(
        [(100, Z), (101, V)], "doc_id long, text string"
    )
    corpus_fps = corpus.select(
        doc_fingerprint(F.col("text")).alias("fp")
    ).distinct()
    corpus_bands = _lsh_bands_df(signatures_from_docs(corpus))
    corpus_shingles = corpus.select(
        "doc_id",
        _trigrams(F.split(normalized_text(F.col("text")), r"\s+")).alias(
            "grams"
        ),
    )

    file_a = [(3, Z_near), (6, U)]
    file_b = [(9, V_near), (12, Z)]  # 12 exact-dups corpus -> dropped

    def run(files, name):
        src = _mk_arrival_files(spark, tmp_path, "src_" + name, files)
        work = str(tmp_path / ("work_" + name))
        run_incremental_dedup(
            spark,
            _arrivals_stream(spark, src),
            corpus_fps,
            corpus_bands,
            work,
            corpus_shingles=corpus_shingles,
        )
        ver = (
            spark.read.schema("doc_id long, corpus_doc_id long, jaccard double")
            .option("recursiveFileLookup", "true")
            .parquet(os.path.join(work, "verified"))
        )
        return {(r.doc_id, r.corpus_doc_id, r.jaccard) for r in ver.collect()}

    split = run([("a.parquet", file_a), ("b.parquet", file_b)], "split")
    oneshot = run([("all.parquet", file_a + file_b)], "oneshot")

    assert split == oneshot, "verified pairs must be batch-boundary independent"
    got_pairs = {(d, c) for d, c, _ in split}
    assert got_pairs == {(3, 100), (9, 101)}, got_pairs
    assert all(j >= 0.5 for _, _, j in split)
    # scores must equal the batch d10 formulation bit-for-bit
    a_sh = spark.createDataFrame(
        [(3, Z_near), (9, V_near)], "doc_id long, text string"
    ).select(
        "doc_id",
        _trigrams(F.split(normalized_text(F.col("text")), r"\s+")).alias(
            "a_grams"
        ),
    )
    b_sh = corpus_shingles.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("grams").alias("b_grams")
    )
    inter = F.size(F.array_intersect("a_grams", "b_grams"))
    union = F.size(F.array_union("a_grams", "b_grams"))
    jacc = F.round(inter.cast("double") / union, 6)
    want = {
        (r.doc_id, r.corpus_doc_id, r.j)
        for r in a_sh.crossJoin(b_sh)
        .select("doc_id", "corpus_doc_id", jacc.alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert split == want


def test_incremental_dedup_delta_fp_state(spark, tmp_path):
    """fp_state_mode='delta': the accumulated fingerprint table is
    maintained by keyed MERGE (injected-fake DeltaTable, the
    test_delta_sink posture) — results match parquet mode, and the
    state table stays exactly-distinct even when a batch's fingerprints
    are merged twice (replay convergence, where parquet append would
    duplicate)."""
    import os

    from test_delta_sink import fake_factory

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.functions.text import (
        doc_fingerprint,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.llmops import (
        _lsh_bands_df,
        signatures_from_docs,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_incremental_dedup,
    )

    X = "the first arrival document with plenty of tokens for shingles"
    Y = "a second distinct arrival whose text also has enough tokens here"
    Z = "corpus resident text that an arrival will duplicate exactly soon"

    corpus = spark.createDataFrame([(100, Z)], "doc_id long, text string")
    corpus_fps = corpus.select(
        doc_fingerprint(F.col("text")).alias("fp")
    ).distinct()
    corpus_bands = _lsh_bands_df(signatures_from_docs(corpus))

    files = [
        ("a.parquet", [(1, X), (4, Z)]),  # 4 exact-dups the corpus
        ("b.parquet", [(5, X), (7, Y)]),  # 5 dups arrival 1
    ]

    def run(mode, name, **kw):
        src = _mk_arrival_files(spark, tmp_path, "src_" + name, files)
        work = str(tmp_path / ("work_" + name))
        out = run_incremental_dedup(
            spark,
            _arrivals_stream(spark, src),
            corpus_fps,
            corpus_bands,
            work,
            fp_state_mode=mode,
            **kw,
        )
        return work, {(r.doc_id, r.n_corpus_candidates) for r in out.collect()}

    _, want = run("parquet", "pq")
    work_d, got = run(
        "delta",
        "delta",
        delta_table_factory=fake_factory,
        delta_create_format="parquet",
    )
    assert got == want
    assert {d for d, _ in got} == {1, 7}

    # replay convergence: merging a batch's fingerprints twice must not
    # grow the state (parquet append would double it)
    fps_dir = os.path.join(work_d, "fp_replay")
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        delta_upsert_writer,
    )

    merge = delta_upsert_writer(
        fps_dir, keys=("fp",), table_factory=fake_factory, create_format="parquet"
    )
    batch_fps = spark.createDataFrame([("f1",), ("f2",)], "fp string")
    merge(batch_fps, 0)
    merge(batch_fps, 0)  # replay
    state = [r.fp for r in spark.read.parquet(fps_dir).collect()]
    assert sorted(state) == ["f1", "f2"]


def test_quota_sampling_state_across_batches_and_restart(spark, tmp_path):
    """st20's runner: per-source quotas are enforced across micro-batch
    boundaries (batch 2 ranks AFTER batch 1's accepted counts) and
    across a restart (counts table is restartable state); the accepted
    set is exactly the quota_s lowest doc_ids per source either way."""
    import os

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_quota_sampling,
    )

    quotas = spark.createDataFrame(
        [("a", 3), ("b", 1), ("c", 0)], "source string, n_allocated long"
    )
    # doc_id-ordered arrivals: source a has 5 docs, b has 2, c has 1
    file_1 = [(1, "a"), (2, "b"), (3, "a"), (4, "c")]
    file_2 = [(5, "a"), (6, "b"), (7, "a"), (8, "a")]
    want = {(1, "a"), (3, "a"), (5, "a"), (2, "b")}  # 3 a's + 1 b, no c

    def mk_src(name, files):
        return _mk_arrival_files(
            spark, tmp_path, name, files, schema="doc_id long, source string"
        )

    def arrivals(src):
        return (
            spark.readStream.schema("doc_id long, source string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # one shot, two micro-batches
    src1 = mk_src("src_one", [("f1.parquet", file_1), ("f2.parquet", file_2)])
    got = {
        (r.doc_id, r.source)
        for r in run_quota_sampling(
            spark, arrivals(src1), quotas, str(tmp_path / "work_one")
        ).collect()
    }
    assert got == want

    # restart: file 1, stop; file 2 appears; same work root + checkpoint
    src2 = mk_src("src_restart", [("f1.parquet", file_1)])
    work = str(tmp_path / "work_restart")
    phase1 = {
        (r.doc_id, r.source)
        for r in run_quota_sampling(
            spark, arrivals(src2), quotas, work
        ).collect()
    }
    assert phase1 == {(1, "a"), (3, "a"), (2, "b")}
    import shutil as _sh

    base = 1_700_000_100
    p = os.path.join(src2, "f2.parquet")
    spark.createDataFrame(file_2, "doc_id long, source string").coalesce(
        1
    ).write.mode("overwrite").parquet(p + ".tmp")
    import glob as _gl

    part = _gl.glob(os.path.join(p + ".tmp", "part-*.parquet"))[0]
    _sh.move(part, p)
    _sh.rmtree(p + ".tmp")
    os.utime(p, (base, base))
    phase2 = {
        (r.doc_id, r.source)
        for r in run_quota_sampling(
            spark, arrivals(src2), quotas, work
        ).collect()
    }
    assert phase2 == want, (
        "post-restart batch must rank after the pre-restart accepted counts"
    )


def test_quota_exceeding_availability_accepts_everything(spark, tmp_path):
    """st20 edge: a quota larger than a source's arrivals accepts every
    row and never blocks the stream (the rank filter simply never
    trips); unknown sources (no quota row) accept nothing."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_quota_sampling,
    )

    quotas = spark.createDataFrame(
        [("a", 99), ("b", 2)], "source string, n_allocated long"
    )
    files = [
        ("f1.parquet", [(1, "a"), (2, "zzz")]),  # zzz has no quota row
        ("f2.parquet", [(3, "a"), (4, "b")]),
    ]
    src = _mk_arrival_files(
        spark, tmp_path, "src_q", files, schema="doc_id long, source string"
    )
    out = {
        (r.doc_id, r.source)
        for r in run_quota_sampling(
            spark,
            spark.readStream.schema("doc_id long, source string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            quotas,
            str(tmp_path / "work_q"),
        ).collect()
    }
    assert out == {(1, "a"), (3, "a"), (4, "b")}


def test_stream_state_dir_conf_makes_runs_restartable(spark, tmp_path):
    """spark.graft.streamStateDir: st14b's work root (checkpoint, fp
    state, verified review queue) lands at a stable fingerprint-keyed
    path under the configured dir, and a SECOND run of the same entry
    resumes the checkpoint — zero new micro-batches, identical verified
    queue (no duplication) — so the queue is consumable across runs."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import plans
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        streaming_queries as sq,
    )

    from conftest import SF_SMOKE

    base = str(tmp_path / "stream_state")
    spark.conf.set(sq.STREAM_STATE_DIR_CONF, base)
    try:
        build = plans.get_spec("st14b_stream_verified_neardups").build
        first = {tuple(r) for r in build(spark, SF_SMOKE).collect()}
        assert sq.LAST_RUN_BATCHES["st14b"] > 0

        import os

        roots = [d for d in os.listdir(base) if not d.startswith("_")]
        assert len(roots) == 1 and roots[0].startswith("st14b-")
        assert os.path.isdir(os.path.join(base, roots[0], "verified"))

        second = {tuple(r) for r in build(spark, SF_SMOKE).collect()}
        assert second == first, "re-run must not duplicate the queue"
        assert sq.LAST_RUN_BATCHES["st14b"] == 0, (
            "already-processed input must add zero micro-batches"
        )
    finally:
        spark.conf.unset(sq.STREAM_STATE_DIR_CONF)


def test_stream_state_dir_survives_process_restart(spark, tmp_path):
    """Cross-PROCESS resume: the split-source cache dies with the
    process, so the split copy must live at a STABLE path under
    streamStateDir — otherwise the resumed checkpoint sees a fresh
    tempdir, treats the whole input as unseen, and st21 re-scores the
    earliest events against the END-of-stream trailing buffer (wrong
    rows). Simulated by clearing _SPLIT_CACHE between runs."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import plans
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        streaming_queries as sq,
    )

    from conftest import SF_SMOKE

    base = str(tmp_path / "stream_state")
    spark.conf.set(sq.STREAM_STATE_DIR_CONF, base)
    saved_cache = dict(sq._SPLIT_CACHE)
    sq._SPLIT_CACHE.clear()
    try:
        build = plans.get_spec("st21_stream_zscore_anomaly").build
        first = {tuple(r) for r in build(spark, SF_SMOKE).collect()}
        assert sq.LAST_RUN_BATCHES["st21"] > 0

        sq._SPLIT_CACHE.clear()  # new process: in-memory cache is gone
        second = {tuple(r) for r in build(spark, SF_SMOKE).collect()}
        assert second == first, (
            "cross-process resume must not replay the input as new batches"
        )
        assert sq.LAST_RUN_BATCHES["st21"] == 0
    finally:
        spark.conf.unset(sq.STREAM_STATE_DIR_CONF)
        sq._SPLIT_CACHE.clear()
        sq._SPLIT_CACHE.update(saved_cache)


def test_cdc_apply_state_across_batches_and_restart(spark, tmp_path):
    """st22's runner: last-writer-wins with tombstones folds correctly
    across micro-batch boundaries (delete in batch 1 shadows nothing
    newer; a later upsert resurrects the key) and across a restart with
    the same work root; the fold's batch-boundary independence means
    the two-phase run ends in the same state as the one-shot run."""
    import datetime as dt
    import glob as _gl
    import os
    import shutil as _sh

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_cdc_apply,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    t = lambda d: dt.datetime(2024, 1, d)
    file_1 = [
        (1, t(1), 1, "click", 1.0),   # u1 upsert
        (2, t(2), 2, "view", 2.0),    # u2 upsert
        (3, t(3), 2, "error", 0.0),   # u2 tombstoned in batch 1
        (4, t(4), 3, "error", 0.0),   # u3 tombstoned, never resurrected
    ]
    file_2 = [
        (5, t(10), 1, "error", 0.0),  # u1 deleted in batch 2
        (6, t(11), 2, "signup", 3.0), # u2 resurrected in batch 2
        (7, t(12), 4, "purchase", 4.0),  # u4 inserted
    ]
    want = {(2, "signup", 3.0, 6), (4, "purchase", 4.0, 7)}

    def key(rows):
        return {
            (r.user_id, r.state_type, r.state_value, r.last_event_id)
            for r in rows
        }

    def arrivals(src):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    src1 = _mk_arrival_files(
        spark,
        tmp_path,
        "cdc_one",
        [("f1.parquet", file_1), ("f2.parquet", file_2)],
        schema=schema,
    )
    got = key(
        run_cdc_apply(
            spark, arrivals(src1), str(tmp_path / "cdc_work_one")
        ).collect()
    )
    assert got == want

    # restart: batch 1, stop; batch 2 appears; same work root
    src2 = _mk_arrival_files(
        spark, tmp_path, "cdc_restart", [("f1.parquet", file_1)], schema=schema
    )
    work = str(tmp_path / "cdc_work_restart")
    phase1 = key(run_cdc_apply(spark, arrivals(src2), work).collect())
    assert phase1 == {(1, "click", 1.0, 1)}  # u2/u3 tombstoned, hidden
    p = os.path.join(src2, "f2.parquet")
    spark.createDataFrame(file_2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p + ".tmp")
    part = _gl.glob(os.path.join(p + ".tmp", "part-*.parquet"))[0]
    _sh.move(part, p)
    _sh.rmtree(p + ".tmp")
    os.utime(p, (1_700_000_100, 1_700_000_100))
    phase2 = key(run_cdc_apply(spark, arrivals(src2), work).collect())
    assert phase2 == want, "restarted fold must equal the one-shot fold"


def test_st22_catalog_entry_runs_multi_batch(spark):
    """The catalog st22 must actually exercise the cross-batch fold —
    the split source replays events as multiple non-empty triggers."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_RUN_BATCHES,
    )
    from conftest import SF_SMOKE

    out = get_spec("st22_stream_cdc_apply").build(spark, SF_SMOKE)
    assert out.count() > 0
    assert LAST_RUN_BATCHES["st22"] >= 2


def test_lww_fold_is_partition_and_duplicate_invariant(spark):
    """The algebra behind st22's batch-boundary-independence claim,
    exercised adversarially: folding a seeded random change log through
    last_writer_compact in ANY batching — shuffled assignment (not just
    time-ordered splits), varying batch counts, and with events
    DUPLICATED across batches (at-least-once delivery) — produces the
    identical state table as one whole-log compaction. Includes same-ts
    ties (event_id breaks them) and tombstones."""
    import datetime as dt
    import random

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.stateful import (
        last_writer_compact,
    )

    rng = random.Random(88)
    base = dt.datetime(2024, 1, 1)
    types = ["click", "view", "signup", "purchase", "error"]
    log = []
    for eid in range(40):
        ts = base + dt.timedelta(hours=rng.randrange(30))
        log.append(
            (eid, ts, rng.randrange(6), rng.choice(types), float(rng.randrange(100)))
        )
    # force same-ts ties on one user
    log.append((40, base, 0, "click", 1.0))
    log.append((41, base, 0, "view", 2.0))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )

    def to_state(rows):
        df = spark.createDataFrame(rows, schema).select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("state_type"),
            F.col("value").alias("state_value"),
        )
        return df

    def compact(df):
        return last_writer_compact(
            df, ts="last_ts", eid="last_event_id",
            etype="state_type", val="state_value",
        )

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    want = key(compact(to_state(log)))
    for trial in range(4):
        n_batches = rng.randrange(2, 5)
        batches = [[] for _ in range(n_batches)]
        for ev in log:
            batches[rng.randrange(n_batches)].append(ev)
            if rng.random() < 0.2:  # duplicate delivery into another batch
                batches[rng.randrange(n_batches)].append(ev)
        state = None
        for b in batches:
            if not b:
                continue
            delta = to_state(b)
            state = delta if state is None else compact(
                state.unionByName(delta)
            )
        assert key(compact(state)) == want, f"trial {trial} diverged"


def test_stream_ivm_view_across_batches_and_restart(spark, tmp_path):
    """st23's runner: the maintained view retracts a key's old
    contribution when a later batch moves or tombstones it (u1's click
    credit must VANISH when batch 2 deletes u1 — a native update-mode
    aggregate cannot do this), and a restarted two-phase run converges
    to the one-shot view."""
    import datetime as dt
    import glob as _gl
    import os
    import shutil as _sh

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_stream_ivm,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    t = lambda d: dt.datetime(2024, 1, d)
    file_1 = [
        (1, t(1), 1, "click", 1.0),
        (2, t(2), 2, "view", 2.0),
        (3, t(3), 2, "error", 0.0),   # u2 tombstoned in batch 1
        (4, t(4), 3, "error", 0.0),
    ]
    file_2 = [
        (5, t(10), 1, "error", 0.0),  # u1 deleted -> click credit retracts
        (6, t(11), 2, "signup", 3.0), # u2 resurrected into a NEW group
        (7, t(12), 4, "purchase", 4.0),
    ]
    want = {("signup", 1, 3.0), ("purchase", 1, 4.0)}

    def key(rows):
        return {(r.state_type, r.n_users, r.total_value) for r in rows}

    def arrivals(src):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    src1 = _mk_arrival_files(
        spark,
        tmp_path,
        "ivm_one",
        [("f1.parquet", file_1), ("f2.parquet", file_2)],
        schema=schema,
    )
    got = key(
        run_stream_ivm(
            spark, arrivals(src1), str(tmp_path / "ivm_work_one")
        ).collect()
    )
    assert got == want

    src2 = _mk_arrival_files(
        spark, tmp_path, "ivm_restart", [("f1.parquet", file_1)], schema=schema
    )
    work = str(tmp_path / "ivm_work_restart")
    phase1 = key(run_stream_ivm(spark, arrivals(src2), work).collect())
    assert phase1 == {("click", 1, 1.0)}
    p = os.path.join(src2, "f2.parquet")
    spark.createDataFrame(file_2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p + ".tmp")
    part = _gl.glob(os.path.join(p + ".tmp", "part-*.parquet"))[0]
    _sh.move(part, p)
    _sh.rmtree(p + ".tmp")
    os.utime(p, (1_700_000_100, 1_700_000_100))
    phase2 = key(run_stream_ivm(spark, arrivals(src2), work).collect())
    assert phase2 == want, "restarted fold must equal the one-shot view"


def test_st23_catalog_entry_runs_multi_batch(spark):
    """The catalog st23 must actually exercise the cross-batch fold."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_RUN_BATCHES,
    )
    from conftest import SF_SMOKE

    out = get_spec("st23_stream_ivm").build(spark, SF_SMOKE)
    assert out.count() > 0
    assert LAST_RUN_BATCHES["st23"] >= 2


def test_stream_compaction_fold_is_split_invariant(spark, tmp_path):
    """st24's runner: the carried-running-sum bin fold must produce the
    IDENTICAL manifest for any doc_id-ordered micro-batch split — the
    one-shot run, an even split, and a ragged split (a bin spanning a
    batch boundary) all end in the same state — and must equal the
    single-pass window computation p20 runs in batch."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_stream_compaction,
    )

    schema = "doc_id long, source string, n_chars long"
    # two sources; src-a's files force a bin to SPAN the 2/1 split
    # (cum 150+180=330 in batch 1, file at 340 continues bin 0 of 500)
    rows = [
        (1, "a", 150), (2, "a", 180), (3, "a", 170), (4, "a", 120),
        (5, "b", 90), (6, "b", 600), (7, "b", 95),  # 600 is a keep-file
        (8, "a", 210), (9, "b", 130),
    ]
    splits = {
        "oneshot": [("f1.parquet", rows)],
        "even": [("f1.parquet", rows[:5]), ("f2.parquet", rows[5:])],
        "ragged": [
            ("f1.parquet", rows[:2]),
            ("f2.parquet", rows[2:3]),
            ("f3.parquet", rows[3:]),
        ],
    }

    def key(out):
        return {
            (r.source, r.bin_id, r.n_files, r.total_chars, r.min_doc, r.max_doc)
            for r in out.collect()
        }

    got = {}
    for name, files in splits.items():
        src = _mk_arrival_files(
            spark, tmp_path, "cmp_" + name, files, schema=schema
        )
        arrivals = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got[name] = key(
            run_stream_compaction(
                spark,
                arrivals,
                str(tmp_path / ("cmp_work_" + name)),
                small=500,
                target=500,
            )
        )
    assert got["oneshot"] == got["even"] == got["ragged"]
    # equals the single-pass exclusive-running-sum binning (p20's form):
    # src-a small files in doc_id order: 150,180,170,120,210 ->
    # exclusive sums 0,150,330,500,620 -> bins 0,0,0,1,1
    # src-b small files: 90,95,130 -> 0,90,185 -> all bin 0
    want = {
        ("a", 0, 3, 500, 1, 3),
        ("a", 1, 2, 330, 4, 8),
        ("b", 0, 3, 315, 5, 9),
    }
    assert got["oneshot"] == want


@pytest.mark.slow
def test_stream_compaction_fold_randomized_split_sweep(spark, tmp_path):
    """st24's fold under a seeded randomized sweep: random listings
    (random sizes straddling the small threshold, multiple sources)
    cut at random doc_id-ordered split points must all reproduce the
    one-shot manifest — the property the hand-picked 3-split test
    can't cover by itself."""
    import random

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_stream_compaction,
    )

    rng = random.Random(2718)
    schema = "doc_id long, source string, n_chars long"
    rows = [
        (d, f"s{rng.randrange(3)}", rng.randrange(1, 800))
        for d in range(60)
    ]

    def key(out):
        return {
            (r.source, r.bin_id, r.n_files, r.total_chars, r.min_doc, r.max_doc)
            for r in out.collect()
        }

    def run(tag, files):
        src = _mk_arrival_files(
            spark, tmp_path, "cmpr_" + tag, files, schema=schema
        )
        arrivals = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return key(
            run_stream_compaction(
                spark,
                arrivals,
                str(tmp_path / ("cmpr_work_" + tag)),
                small=500,
                target=700,
            )
        )

    oneshot = run("one", [("f1.parquet", rows)])
    for trial in range(3):
        cuts = sorted(rng.sample(range(1, len(rows)), rng.randrange(1, 4)))
        bounds = [0] + cuts + [len(rows)]
        files = [
            (f"f{i}.parquet", rows[lo:hi])
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
        ]
        assert run(f"t{trial}", files) == oneshot, (trial, cuts)


def test_st24_catalog_entry_runs_multi_batch(spark):
    """The catalog st24 must actually exercise the cross-batch carry —
    the split source replays the listing as multiple non-empty
    triggers."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_RUN_BATCHES,
    )
    from conftest import SF_SMOKE

    out = get_spec("st24_stream_compaction").build(spark, SF_SMOKE)
    assert out.count() > 0
    assert LAST_RUN_BATCHES["st24"] >= 2


def test_stream_dup_components_rep_change_chain(spark, tmp_path):
    """st28's temporal star-link: when a SMALLER doc_id joins a bucket
    later, the bucket representative changes and an (old_rep, new_rep)
    edge must keep the cluster connected — docs arriving in DESCENDING
    id order force a rep change on every batch. The final labels must
    equal the batch d08 contract (component = smallest doc_id in the
    cluster) and batch boundaries must not split clusters."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_stream_dup_components,
    )

    X = "an identical near duplicate text that shares every trigram with its copies"
    Y = "a completely different second family of documents with its own token stream"
    files = [
        ("f0.parquet", [(30, X), (25, Y)]),
        ("f1.parquet", [(20, X), (15, Y)]),
        ("f2.parquet", [(5, X)]),
    ]
    src = _mk_arrival_files(spark, tmp_path, "src_st28", files)
    work = str(tmp_path / "work_st28")
    out = {
        r.doc_id: r.component
        for r in run_stream_dup_components(
            spark,
            _arrivals_stream(spark, src),
            work,
            run_name="st28_fixture",
        ).collect()
    }
    assert out == {30: 5, 20: 5, 5: 5, 25: 15, 15: 15}, out


def test_hamming_index_maintenance_lifecycle_and_word_only_scan(spark):
    """st38 contract: (a) the word-table maintenance really ran
    multi-batch, (b) per-batch shard files collapse to one compacted
    file, (c) the compacted index holds ONLY the packed words (id +
    two BIGINTs — never the raw vectors), and (d) serving from the
    maintained table answers exactly s23's batch result."""
    import glob as g
    import os

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_INDEX_DIRS,
        LAST_RUN_BATCHES,
        N_STREAM_FILES,
    )

    sf = "/root/testdata/sf0.001"
    served = sorted(
        (r.q_id, r.vec_id, r.hamming, r.sim, r.rank)
        for r in get_spec("st38_stream_hamming_index_maintenance")
        .build(spark, sf)
        .collect()
    )
    assert LAST_RUN_BATCHES["st38"] >= N_STREAM_FILES
    append_dir, compact_dir = LAST_INDEX_DIRS["st38"]
    assert len(g.glob(os.path.join(append_dir, "part-*.parquet"))) >= 2
    assert len(g.glob(os.path.join(compact_dir, "part-*.parquet"))) == 1
    words = spark.read.parquet(compact_dir)
    assert set(words.columns) == {"vec_id", "b0", "b1"}

    batch = sorted(
        (r.q_id, r.vec_id, r.hamming, r.sim, r.rank)
        for r in get_spec("s23_binary_hamming_ann").build(spark, sf).collect()
    )
    assert served == batch


def test_graph_index_maintenance_converges_to_batch_graph(spark):
    """st39 contract: (a) the maintenance really ran multi-batch, (b)
    the compacted edge state is bounded at nodes x bands x K rows with
    per-(band, src) top-K semantics, and (c) serving from the
    incrementally maintained graph answers exactly s30's batch result
    — the monotone-compaction convergence claim."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        get_spec,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.pipeline_extra import (
        _S30_BANDS,
        _S30_KG,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_RUN_BATCHES,
        N_STREAM_FILES,
    )

    sf = "/root/testdata/sf0.001"
    served = sorted(
        (r.q_id, r.vec_id, r.hamming, r.sim, r.rank)
        for r in get_spec("st39_stream_graph_index_maintenance")
        .build(spark, sf)
        .collect()
    )
    assert LAST_RUN_BATCHES["st39"] >= N_STREAM_FILES

    batch = sorted(
        (r.q_id, r.vec_id, r.hamming, r.sim, r.rank)
        for r in get_spec("s30_graph_beam_ann").build(spark, sf).collect()
    )
    assert served == batch

    # edge-state bound: the committed compacted edge table must hold at
    # most K rows per (band, src) — nodes x bands x K total, no matter
    # how many triggers ran (the monotone top-K compaction)
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        LAST_INDEX_DIRS,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.statefs import (
        VersionedState,
    )

    state_root, _ = LAST_INDEX_DIRS["st39"]
    state = VersionedState(spark, state_root)
    edges = state.read_table("edges", "band int, src long, dst long, sim double")
    nodes = state.read_table(
        "nodes",
        "vec_id long, bucket int, b0 long, b1 long, "
        "embedding array<float>, nrm double",
    )
    n_nodes = nodes.count()
    assert 0 < n_nodes <= 490  # corpus side only (queries filtered out)
    per_key_max = (
        edges.groupBy("band", "src").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_key_max <= _S30_KG, per_key_max
    assert edges.count() <= n_nodes * _S30_BANDS * _S30_KG
