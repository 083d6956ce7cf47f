"""Streaming stateful sessionization, ASV denoise grouped-map, contig rename,
coverage slice export."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from glamr_omics_pipelines_spark.operators import amplicon
from glamr_omics_pipelines_spark.pipelines import glamr
from glamr_omics_pipelines_spark.sources import sequences
from glamr_omics_pipelines_spark.streaming.ingest import sessionize_stream


def test_denoise_pools_hamming1_errors(spark):
    reads = [("s1", "ACGTACGT")] * 50 + [("s1", "ACGAACGT")] * 2 \
        + [("s1", "TTTTCCCC")] * 30 + [("s2", "ACGTACGT")] * 7
    df = spark.createDataFrame(reads, ["sample", "seq"])
    out = amplicon.denoise_asvs(df, min_fold=10).collect()
    by = {(r.sample, r.asv_seq): r["count"] for r in out}
    # the 2-count single-substitution variant merged into the 50-count ASV
    assert by[("s1", "ACGTACGT")] == 52
    assert ("s1", "ACGAACGT") not in by
    assert by[("s1", "TTTTCCCC")] == 30
    assert by[("s2", "ACGTACGT")] == 7


def test_asv_matrix_pivot(spark):
    asvs = spark.createDataFrame(
        [("s1", "AAAA", 5), ("s2", "AAAA", 3), ("s2", "CCCC", 9)],
        ["sample", "asv_seq", "count"])
    wide = amplicon.asv_matrix(asvs, samples=["s1", "s2"]).collect()
    by = {r.asv_seq: r for r in wide}
    assert by["AAAA"].s1 == 5 and by["AAAA"].s2 == 3
    assert by["CCCC"].s1 == 0 and by["CCCC"].s2 == 9


def test_rename_contigs_both_assemblers(spark, tmp_path):
    fa = tmp_path / "contigs.fa"
    fa.write_text(
        ">k141_5 flag=1 multi=12.3 len=8\nACGTACGT\n"
        ">k141_12 flag=1 multi=3.5 len=4\nTTTT\n"
        ">NODE_3_length_6_cov_9.25\nGGGCCC\n")
    df = sequences.read_fasta(spark, str(fa))
    out = glamr.rename_contigs(df, "samp_T1").collect()
    by = {r.old_id: r for r in out}
    assert by["k141_5"].contig_len == 8 and by["k141_5"].coverage == 12.3
    assert by["NODE_3"].contig_len == 6 and by["NODE_3"].coverage == 9.25
    assert sorted(r.contig for r in out) == \
        ["samp_T1_1", "samp_T1_2", "samp_T1_3"]


def test_export_coverage_slices(spark, tmp_path):
    wide = spark.createDataFrame(
        [("c1", 1.5, 0.0), ("c2", 2.5, 3.5)], ["contig", "s1", "s2"])
    paths = glamr.export_coverage_slices(wide, "contig", ["s1", "s2"],
                                         str(tmp_path))
    assert len(paths) == 2
    got = spark.read.option("sep", "\t").csv(paths[0]).collect()
    assert {(r._c0, float(r._c1)) for r in got} == {("c1", 1.5), ("c2", 2.5)}


@pytest.mark.timeout(300)
@pytest.mark.slow
def test_sessionize_stream_stateful(spark, tmp_path):
    src = tmp_path / "events_in"
    src.mkdir()
    # two bursts for u1 separated by > gap; one burst for u2
    rows = [(1, "2024-01-01 00:00:%02d" % s) for s in (0, 10, 20)] \
        + [(1, "2024-01-01 02:00:%02d" % s) for s in (0, 5)] \
        + [(2, "2024-01-01 00:30:00")]
    import csv
    with open(src / "a.csv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["user_id", "ts"])
        w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("user_id long, ts timestamp")
              .option("sep", "\t").option("header", True)
              .load(str(src)))
    sess = sessionize_stream(stream, gap_seconds=1800)
    q = (sess.writeStream.format("memory").queryName("sess_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    time.sleep(1)
    got = spark.sql("select * from sess_out").collect()
    # within one availableNow trigger only CLOSED sessions are emitted:
    # u1's first burst closes when its second burst arrives
    closed = {(r.user_id, r.session_id): r.n_events for r in got}
    assert closed.get((1, 1)) == 3


@pytest.mark.timeout(300)
def test_stream_dedup_within_watermark(spark, tmp_path):
    from glamr_omics_pipelines_spark.streaming.ingest import stream_dedup
    src = tmp_path / "dedup_in"
    src.mkdir()
    import csv
    # duplicate keys within and across files — one survivor per key
    for fname, rows in [("a.csv", [(1, "2024-01-01 00:00:00", "x"),
                                   (1, "2024-01-01 00:00:05", "y"),
                                   (2, "2024-01-01 00:01:00", "z")]),
                        ("b.csv", [(2, "2024-01-01 00:02:00", "w"),
                                   (3, "2024-01-01 00:03:00", "v")])]:
        with open(src / fname, "w", newline="") as f:
            w = csv.writer(f, delimiter="\t")
            w.writerow(["k", "ts", "payload"])
            w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("k long, ts timestamp, payload string")
              .option("sep", "\t").option("header", True)
              .load(str(src)))
    out = stream_dedup(stream, ["k"], watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("dd_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = spark.table("dd_out").collect()
    assert sorted(r.k for r in got) == [1, 2, 3]
    # batch form degrades to plain dropDuplicates
    batch = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], ["k", "payload"])
    assert stream_dedup(batch, ["k"]).count() == 2


@pytest.mark.timeout(300)
def test_session_window_counts_streaming(spark, tmp_path):
    """Native session_window in STREAMING mode: with a watermark past the
    gap, closed sessions are emitted in append mode — the built-in scale
    path next to the custom applyInPandasWithState sessionizer."""
    from glamr_omics_pipelines_spark.streaming.ingest import session_window_counts
    src = tmp_path / "sw_in"
    src.mkdir()
    rows = [(1, "2024-01-01 00:00:%02d" % s, 1.0) for s in (0, 10, 20)] \
        + [(1, "2024-01-01 06:00:00", 1.0)] \
        + [(2, "2024-01-01 00:30:00", 2.0)]
    import csv
    with open(src / "a.csv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["user_id", "ts", "value"])
        w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("user_id long, ts timestamp, value double")
              .option("sep", "\t").option("header", True)
              .load(str(src)))
    out = session_window_counts(stream, gap="30 minutes", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("sw_out")
         .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    time.sleep(1)
    got = {(r.user_id, str(r.session_start)): (r.n_events, r.sum_value)
           for r in spark.sql("select * from sw_out").collect()}
    # u1's first burst (3 events) and u2's session close once the 06:00
    # event advances the watermark past them; the 06:00 session stays open
    assert got[(1, "2024-01-01 00:00:00")] == (3, 3.0)
    assert got[(2, "2024-01-01 00:30:00")] == (1, 2.0)
    assert (1, "2024-01-01 06:00:00") not in got


def test_session_window_counts_batch_matches_semantics(spark):
    """Batch mode of the same operator: exact-gap boundary merges (the
    semantics the q_session_windows oracle encodes)."""
    from glamr_omics_pipelines_spark.streaming.ingest import session_window_counts
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, 1.0), (1, t0 + dt.timedelta(seconds=1800), 2.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = session_window_counts(df, gap="30 minutes").collect()
    assert len(out) == 1 and out[0].n_events == 2 and out[0].sum_value == 3.0


@pytest.mark.timeout(300)
def test_stream_foreachbatch_warehouse_merge(spark, tmp_path):
    """The full streaming Layer-C path: file stream -> foreachBatch ->
    warehouse incremental MERGE. The checkpoint makes file discovery
    exactly-once and the anti-join MERGE makes re-delivered samples
    idempotent — together they replace the reference's 'new files since
    last load' ledger (postgres.Rmd:239-292) end to end."""
    from glamr_omics_pipelines_spark.sources.warehouse import Warehouse
    wh = Warehouse(str(tmp_path / "wh"))
    src = tmp_path / "stream_in"
    src.mkdir()
    schema = StructType([StructField("sample", StringType()),
                         StructField("reads", LongType())])

    def write_file(name, rows):
        import csv
        with open(src / name, "w", newline="") as f:
            w = csv.writer(f, delimiter="\t")
            w.writerow(["sample", "reads"])
            w.writerows(rows)

    def run_once():
        stream = (spark.readStream.format("csv")
                  .schema(schema)
                  .option("sep", "\t").option("header", True)
                  .load(str(src)))
        q = (stream.writeStream
             .foreachBatch(lambda batch, _id:
                           wh.incremental_append(batch, "read_count", "sample"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    write_file("a.csv", [("s1", 100), ("s2", 200)])
    run_once()
    # second delivery: one duplicate sample (s2, new value) + one new sample
    write_file("b.csv", [("s2", 999), ("s3", 300)])
    run_once()
    got = {r.sample: r.reads
           for r in wh.read(spark, "read_count", schema).collect()}
    # s2's re-delivery was anti-joined away: first-load value retained
    assert got == {"s1": 100, "s2": 200, "s3": 300}


@pytest.mark.timeout(300)
def test_stream_interval_join_streaming_and_batch(spark, tmp_path):
    """Stream-stream event-time-bounded join: two file streams join within
    the delay bound; the identical code path on batch frames matches the
    attribution_join oracle shape."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        stream_interval_join)
    import csv
    imp_dir, conv_dir = tmp_path / "imp", tmp_path / "conv"
    imp_dir.mkdir(); conv_dir.mkdir()
    with open(imp_dir / "i.csv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["user_id", "view_id", "imp_ts"])
        w.writerows([(1, 10, "2024-01-01 00:00:00"),
                     (1, 11, "2024-01-01 00:20:00"),
                     (2, 12, "2024-01-01 00:00:00")])
    with open(conv_dir / "c.csv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["user_id", "purchase_id", "conv_ts"])
        # u1 converts 00:25 -> views at 00:00 (25m ago, in) and 00:20 (in)
        # u2 converts 01:00 -> view at 00:00 is 60m ago, OUT of 30m bound
        w.writerows([(1, 100, "2024-01-01 00:25:00"),
                     (2, 101, "2024-01-01 01:00:00")])
    imp = (spark.readStream.format("csv")
           .schema("user_id long, view_id long, imp_ts timestamp")
           .option("sep", "\t").option("header", True).load(str(imp_dir)))
    conv = (spark.readStream.format("csv")
            .schema("user_id long, purchase_id long, conv_ts timestamp")
            .option("sep", "\t").option("header", True).load(str(conv_dir)))
    j = stream_interval_join(imp, conv, "user_id", "imp_ts", "conv_ts",
                             max_delay_seconds=1800, watermark="10 minutes")
    q = (j.writeStream.format("memory").queryName("attr_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = {(r.purchase_id, r.view_id) for r in spark.table("attr_out").collect()}
    assert got == {(100, 10), (100, 11)}
    # batch path: same operator, same condition, no watermark branch
    bi = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1, 0, 0))],
        "user_id long, view_id long, imp_ts timestamp")
    bc = spark.createDataFrame(
        [(1, 100, dt.datetime(2024, 1, 1, 0, 25)),
         (1, 101, dt.datetime(2024, 1, 1, 1, 25))],
        "user_id long, purchase_id long, conv_ts timestamp")
    bj = stream_interval_join(bi, bc, "user_id", "imp_ts", "conv_ts",
                              max_delay_seconds=1800)
    assert {r.purchase_id for r in bj.collect()} == {100}


@pytest.mark.timeout(300)
def test_streaming_rollup_ingest_merges_batches(spark, tmp_path):
    """File stream -> per-batch agg snapshot -> foreachBatch merge into a
    parquet state table; final state equals the direct aggregate over all
    files, with snapshot-grain state only."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        streaming_rollup_ingest)
    import csv
    src = tmp_path / "roll_in"; src.mkdir()
    rows_a = [("x", 1.0), ("x", 3.0), ("y", 10.0)]
    rows_b = [("x", 5.0), ("z", 7.0)]
    for fname, rows in [("a.csv", rows_a), ("b.csv", rows_b)]:
        with open(src / fname, "w", newline="") as f:
            w = csv.writer(f, delimiter="\t")
            w.writerow(["g", "v"]); w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("g string, v double")
              .option("sep", "\t").option("header", True)
              .option("maxFilesPerTrigger", 1)   # force >= 2 micro-batches
              .load(str(src)))
    state = str(tmp_path / "state")
    streaming_rollup_ingest(stream, ["g"], "v", state,
                            str(tmp_path / "ckpt"))
    from glamr_omics_pipelines_spark.streaming.ingest import read_state_table
    got = {r.g: (r.agg_n, r.agg_sum, r.agg_min, r.agg_max)
           for r in read_state_table(spark, state).collect()}
    assert got == {"x": (3, 9.0, 1.0, 5.0),
                   "y": (1, 10.0, 10.0, 10.0),
                   "z": (1, 7.0, 7.0, 7.0)}


def test_streaming_vocab_ingest_heavy_hitters(spark, tmp_path):
    """File stream -> per-batch token counts -> foreachBatch merge into a
    (token, n) state table with top-k truncation + exact OTHERS bucket."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        streaming_vocab_ingest)
    import csv
    src = tmp_path / "vocab_in"; src.mkdir()
    docs_a = [("the cat sat",), ("the dog",)]
    docs_b = [("the cat ran",), ("a bird",)]
    for fname, rows in [("a.csv", docs_a), ("b.csv", docs_b)]:
        with open(src / fname, "w", newline="") as f:
            w = csv.writer(f, delimiter="\t")
            w.writerow(["text"]); w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("text string")
              .option("sep", "\t").option("header", True)
              .option("maxFilesPerTrigger", 1)
              .load(str(src)))
    state = str(tmp_path / "vstate")
    streaming_vocab_ingest(stream, "text", state,
                           str(tmp_path / "vckpt"), top_k=3)
    from glamr_omics_pipelines_spark.streaming.ingest import read_state_table
    got = {r.token: r.n for r in read_state_table(spark, state).collect()}
    # full counts: the=3, cat=2, a=1, bird=1, dog=1, ran=1, sat=1 (n=10)
    # batch 1 (file a): head = {the2, cat1, dog1}, OTHERS = sat(1)
    # batch 2 (file b): head = {the3, cat2, a1} (tie n=1 -> token asc),
    #                   OTHERS = bird + dog + ran + previous = 4
    assert got["the"] == 3 and got["cat"] == 2 and got["a"] == 1
    assert len(got) == 4  # top 3 + OTHERS
    assert got["<OTHERS>"] == 4
    assert sum(got.values()) == 10  # total mass exact


@pytest.mark.slow
def test_streaming_drift_monitor_psi_log(spark, tmp_path):
    """File stream of drifted values vs a static reference: the per-batch
    PSI log must show ~0 for a matching batch and a loud value once the
    shifted batch merges in; bin state stays n_bins rows."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        streaming_drift_monitor)
    import csv
    import random
    random.seed(11)
    ref_vals = [random.gauss(0, 1) for _ in range(1000)]
    reference = spark.createDataFrame([(v,) for v in ref_vals],
                                      "value double")
    src = tmp_path / "drift_in"; src.mkdir()
    with open(src / "a.csv", "w", newline="") as f:
        w = csv.writer(f); w.writerow(["value"])
        w.writerows([(v,) for v in ref_vals[:500]])      # same distribution
    with open(src / "b.csv", "w", newline="") as f:
        w = csv.writer(f); w.writerow(["value"])
        w.writerows([(v + 3.0,) for v in ref_vals[:500]])  # shifted
    stream = (spark.readStream.format("csv")
              .schema("value double").option("header", True)
              .option("maxFilesPerTrigger", 1)
              .load(str(src)))
    state = str(tmp_path / "dstate")
    streaming_drift_monitor(stream, reference, "value", state,
                            str(tmp_path / "dckpt"), n_bins=10)
    log = sorted(spark.read.parquet(f"{state}/psi_log").collect(),
                 key=lambda r: r.n_seen)
    assert len(log) == 2
    assert log[-1].n_seen == 1000
    assert log[-1].psi > 0.25              # cumulative stream has drifted
    from glamr_omics_pipelines_spark.streaming.ingest import read_state_table
    bins = read_state_table(spark, f"{state}/bins")
    assert bins.count() <= 10              # state bounded at n_bins rows


def test_state_upsert_replay_and_corruption(spark, tmp_path):
    """Replay safety of the foreachBatch state protocol: the applied batch
    id rides in the state parquet itself, a replayed (already-applied)
    batch is skipped instead of double-counted, and a corrupted state dir
    raises instead of silently resetting accumulated counts."""
    import csv
    import pytest
    from glamr_omics_pipelines_spark.streaming.ingest import (
        _read_state, _write_state, streaming_rollup_ingest)

    # roundtrip: marker stamped on write, stripped + returned on read
    df = spark.createDataFrame([("x", 2)], ["g", "n"])
    state = str(tmp_path / "st")
    _write_state(df, 7, state)
    got, applied = _read_state(spark, state)
    assert applied == 7 and got.columns == ["g", "n"]
    assert got.collect()[0]["n"] == 2

    # missing state dir is (None, None), not an error
    assert _read_state(spark, str(tmp_path / "absent")) == (None, None)

    # end-to-end replay: run a rollup once, then re-run the SAME files with
    # a FRESH checkpoint (replays ids 0..k) against the already-applied
    # state — every batch must skip, leaving the state byte-identical
    src = tmp_path / "in"; src.mkdir()
    for fname, rows in [("a.csv", [("x", 1.0)]), ("b.csv", [("x", 5.0)])]:
        with open(src / fname, "w", newline="") as f:
            w = csv.writer(f, delimiter="\t")
            w.writerow(["g", "v"]); w.writerows(rows)

    def stream():
        return (spark.readStream.format("csv")
                .schema("g string, v double")
                .option("sep", "\t").option("header", True)
                .option("maxFilesPerTrigger", 1)
                .load(str(src)))

    roll_state = str(tmp_path / "roll_state")
    streaming_rollup_ingest(stream(), ["g"], "v", roll_state,
                            str(tmp_path / "ck1"))
    from glamr_omics_pipelines_spark.streaming.ingest import read_state_table
    before = read_state_table(spark, roll_state).collect()
    streaming_rollup_ingest(stream(), ["g"], "v", roll_state,
                            str(tmp_path / "ck2"))  # replay simulation
    after = read_state_table(spark, roll_state).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert after[0]["agg_sum"] == 6.0  # applied once, not twice

    # corruption surfaces: a non-parquet file inside the state dir raises
    bad = tmp_path / "bad_state"; bad.mkdir()
    (bad / "part-00000.parquet").write_text("not parquet")
    with pytest.raises(Exception) as exc:
        _read_state(spark, str(bad))
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_state_write_crash_window_keeps_previous_snapshot(spark, tmp_path):
    """The exact failure the versioned-swap layout exists for: a crash
    AFTER the new snapshot's files land but BEFORE the pointer swap must
    leave the previous state fully readable (the checkpoint then replays
    the batch idempotently). The old mode('overwrite') on the live dir had
    a delete-then-write window that erased all accumulated state."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        _read_state, _write_state, read_state_table)
    state = str(tmp_path / "st")
    v1 = spark.createDataFrame([("x", 2)], ["g", "n"])
    _write_state(v1, 0, state)
    # simulate the crash window: batch 1's snapshot written, pointer NOT
    # swapped (write the files exactly as _write_state would, stop there)
    (spark.createDataFrame([("x", 99)], ["g", "n"])
     .withColumn("_applied_batch", F.lit(1).cast("long"))
     .coalesce(1).write.mode("overwrite").parquet(f"{state}/v1"))
    got, applied = _read_state(spark, state)
    assert applied == 0                      # still the old snapshot
    assert got.collect()[0]["n"] == 2        # nothing lost, nothing partial
    # recovery: the replayed batch completes the swap; new state visible
    _write_state(spark.createDataFrame([("x", 101)], ["g", "n"]), 1, state)
    assert read_state_table(spark, state).collect()[0]["n"] == 101


@pytest.mark.slow
def test_sessionize_stream_honors_custom_column_names(spark, tmp_path):
    """user_col/ts_col must flow into the kernel and output schema — the
    kernel previously hard-coded 'ts'/'user_id' and forced bigint ids."""
    src = tmp_path / "events_named"
    src.mkdir()
    import csv
    rows = [("alice", "2024-01-01 00:00:%02d" % s) for s in (0, 10)] \
        + [("alice", "2024-01-01 02:00:00")]
    with open(src / "a.csv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["uid", "event_time"])
        w.writerows(rows)
    stream = (spark.readStream.format("csv")
              .schema("uid string, event_time timestamp")
              .option("sep", "\t").option("header", True)
              .load(str(src)))
    sess = sessionize_stream(stream, user_col="uid", ts_col="event_time",
                             gap_seconds=1800)
    q = (sess.writeStream.format("memory").queryName("sess_named")
         .option("checkpointLocation", str(tmp_path / "ckpt_named"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    time.sleep(1)
    got = spark.sql("select * from sess_named").collect()
    closed = {(r.uid, r.session_id): r.n_events for r in got}
    assert closed.get(("alice", 1)) == 2  # string ids, custom col names


@pytest.mark.slow
def test_drift_monitor_registers_mass_in_unseen_bins(spark, tmp_path):
    """A degenerate reference (all one value) puts every reference count in
    bin 0; traffic arriving in bins the reference never populated must
    still register drift — the old p>0-and-q>0 skip read 'no drift'
    precisely when the distribution moved somewhere new."""
    from glamr_omics_pipelines_spark.streaming.ingest import (
        streaming_drift_monitor)
    import csv
    reference = spark.createDataFrame([(5.0,)] * 100, "value double")
    src = tmp_path / "drift_deg"; src.mkdir()
    with open(src / "a.csv", "w", newline="") as f:
        w = csv.writer(f); w.writerow(["value"])
        w.writerows([(10.0,)] * 50)          # all mass beyond every edge
    stream = (spark.readStream.format("csv")
              .schema("value double").option("header", True)
              .load(str(src)))
    state = str(tmp_path / "deg_state")
    streaming_drift_monitor(stream, reference, "value", state,
                            str(tmp_path / "deg_ckpt"), n_bins=10)
    log = spark.read.parquet(f"{state}/psi_log").collect()
    assert log[0].psi > 1.0  # total shift registers loudly, not 0.0
