"""Streaming analogues (SURVEY.md §2.10): file source + availableNow trigger."""

import pytest

from pitfeat.streaming import (
    asof_features_microbatch,
    stream_dedup,
    stream_rolling,
    stream_sessionize,
)


@pytest.fixture(scope="module")
def stream_src(spark, transcripts, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "turns")
    transcripts.write.mode("overwrite").parquet(p)
    schema = spark.read.parquet(p).schema
    return spark.readStream.schema(schema).parquet(p)


def _run(df, name, mode="append"):
    # aggregation tests use complete mode: in append mode the final watermark
    # of an availableNow run does not flush still-open session windows, so the
    # tail sessions would be withheld (the documented lateness/finalization
    # semantics, not a bug)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_sessionize_matches_batch(spark, transcripts, stream_src):
    from pitfeat.ops import windows as W

    out = stream_sessionize(stream_src, gap="30 minutes", watermark="10 seconds")
    _run(out, "sessions", mode="complete")
    got = spark.sql("select * from sessions").toPandas()
    # batch oracle: W9 with the same 1800s gap
    batch = (
        W.session_summaries(W.sessionize(transcripts, gap_s=1800))
        .toPandas()
    )
    # session_window merges by gap exactly like W9: same session count per conv
    g_got = got.groupby("conv_id").size().sort_index()
    g_batch = batch.groupby("conv_id").size().sort_index()
    assert (g_got == g_batch).all()
    assert got["n_turns"].sum() == len(transcripts.toPandas())
    # tool-call totals agree
    assert got["tool_calls"].sum() == batch["tool_calls"].sum()


def test_stream_dedup(spark, transcripts, tmp_path):
    p = str(tmp_path / "dup")
    doubled = transcripts.unionByName(transcripts)
    doubled.write.mode("overwrite").parquet(p)
    schema = spark.read.parquet(p).schema
    src = spark.readStream.schema(schema).parquet(p)
    out = stream_dedup(src, keys=["conv_id", "turn_idx"], watermark="1 hour")
    _run(out, "dedup")
    got = spark.sql("select count(*) c from dedup").collect()[0]["c"]
    assert got == transcripts.count()


def test_stream_rolling_counts(spark, transcripts, stream_src):
    out = stream_rolling(stream_src, window="1 hour", slide="30 minutes", watermark="10 seconds")
    _run(out, "rolling", mode="complete")
    got = spark.sql("select sum(n_turns) s from rolling").collect()[0]["s"]
    # each row lands in exactly window/slide = 2 sliding windows
    assert got == 2 * transcripts.count()


def test_asof_microbatch_equals_batch(spark, transcripts, snapshots, stream_src):
    from pitfeat.ops.asof import asof_join

    transform = asof_features_microbatch(snapshots)
    rows = {}

    def sink(batch_df, batch_id):
        out = transform(batch_df)
        rows[batch_id] = out.toPandas()

    q = stream_src.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    import pandas as pd

    got = (
        pd.concat(rows.values())
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        asof_join(transcripts, snapshots)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stream_pit_features_equals_batch(spark, transcripts, snapshots, tmp_path):
    """SURVEY §2.10 custom state: running PIT features via
    applyInPandasWithState == batch as-of join on the same data."""
    import numpy as np
    import pandas as pd

    from pitfeat.ops.asof import asof_join
    from pitfeat.schema import snapshot_feature_cols
    from pitfeat.streaming import stream_pit_features

    feats = snapshot_feature_cols()
    tp, sp = str(tmp_path / "turns"), str(tmp_path / "snaps")
    transcripts.write.mode("overwrite").parquet(tp)
    snapshots.write.mode("overwrite").parquet(sp)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    t_s = spark.readStream.schema(spark.read.parquet(tp).schema).parquet(tp)
    s_s = spark.readStream.schema(spark.read.parquet(sp).schema).parquet(sp)
    out = stream_pit_features(t_s, s_s, feats)
    q = (
        out.writeStream.format("memory")
        .queryName("pit_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    keys = ["conv_id", "turn_idx"]
    got = (
        spark.sql("select * from pit_state")
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    want = (
        asof_join(transcripts, snapshots)
        .select(*keys, "ts", "snap_ts", *feats)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["snap_ts"], want["snap_ts"], check_names=False)
    for c in feats:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            equal_nan=True,
            err_msg=c,
        )


def test_stream_pit_features_state_carries_across_batches(
    spark, transcripts, snapshots, tmp_path
):
    """Turns trickle in one file per micro-batch while all snapshots arrive
    up front: per-conv state must carry the latest snapshot across batches,
    reproducing the batch as-of result exactly."""
    import numpy as np
    import pandas as pd

    from pitfeat.ops.asof import asof_join
    from pitfeat.schema import snapshot_feature_cols
    from pitfeat.streaming import stream_pit_features

    feats = snapshot_feature_cols()
    tp, sp = str(tmp_path / "turns"), str(tmp_path / "snaps")
    transcripts.repartition(4).write.mode("overwrite").parquet(tp)
    snapshots.write.mode("overwrite").parquet(sp)
    t_s = (
        spark.readStream.schema(spark.read.parquet(tp).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tp)
    )
    s_s = spark.readStream.schema(spark.read.parquet(sp).schema).parquet(sp)
    out = stream_pit_features(t_s, s_s, feats)
    q = (
        out.writeStream.format("memory")
        .queryName("pit_state_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert q.lastProgress is not None
    keys = ["conv_id", "turn_idx"]
    got = (
        spark.sql("select * from pit_state_mb")
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    want = (
        asof_join(transcripts, snapshots)
        .select(*keys, "ts", "snap_ts", *feats)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["snap_ts"], want["snap_ts"], check_names=False)
    for c in feats:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            equal_nan=True,
            err_msg=c,
        )


def test_pit_kernel_tolerates_null_timestamps():
    """A NULL snap_ts or NULL turn ts must not poison the stateful operator:
    previously int(NaN) raised when persisting state (a permanently
    re-failing micro-batch after every restart) and the int64 conversion
    raised on a null turn ts. NULL-ts snapshots are dropped (unknowable age,
    same rule as batch asof_join); NULL-ts turns emit unmatched."""
    import numpy as np
    import pandas as pd

    from pitfeat.streaming import _pit_state_kernel

    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "turn_idx": [-1, -1, 0, 1],
            "t_us": [np.nan, 2_000_000.0, 3_000_000.0, np.nan],
            "is_snap": [1, 1, 0, 0],
            "snap_t_us": [np.nan, 2_000_000.0, np.nan, np.nan],
            "f_0": [7.0, 2.0, np.nan, np.nan],
        }
    )
    out, state = _pit_state_kernel(pdf, None, "conv_id", ["turn_idx"], ["f_0"])
    out = out.set_index("turn_idx")
    assert out.loc[0, "f_0"] == 2.0          # matched the REAL snapshot, not the null-ts one
    assert np.isnan(out.loc[1, "f_0"])       # null-ts turn: unmatched, not a crash
    assert state is not None
    assert state[0] == [2_000_000]           # null-ts snapshot never entered state


def test_stream_features_job_available_now(spark, transcripts, snapshots, tmp_path):
    """jobs/stream_features.py end-to-end (Trigger.AvailableNow): the file-
    stream job's output must equal the batch as-of join on the same data."""
    import numpy as np
    import pandas as pd

    import jobs.stream_features as J
    from pitfeat.ops.asof import asof_join

    tdir, sdir = str(tmp_path / "turns"), str(tmp_path / "snaps")
    transcripts.write.mode("overwrite").parquet(tdir)
    snapshots.write.mode("overwrite").parquet(sdir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    feats = ["f_0", "f_1"]
    res = J.run(
        spark,
        type("A", (), dict(
            turns_dir=tdir, snapshots_dir=sdir, out=out, checkpoint=ckpt,
            features=feats, width=16, available_now=True,
        ))(),
    )
    assert res["rows"] == transcripts.count()
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        asof_join(transcripts, snapshots)
        .select("conv_id", "turn_idx", *feats)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    for c in feats:
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), equal_nan=True, err_msg=c
        )


def test_stream_pit_checkpoint_recovery_exactly_once(
    spark, transcripts, snapshots, tmp_path
):
    """VERDICT r4 #8: the streaming job's checkpoint-recovery story. Run 1
    (availableNow) processes ALL snapshots + half the turns, then stops.
    New turn files land; run 2 is a FRESH query restarted from the same
    checkpoint. Exactly-once requires (a) source-offset recovery — run 2
    must not reprocess run 1's files (no duplicate rows), and (b) STATE
    recovery — run-2 turns must still match snapshots that were admitted in
    run 1, i.e. the per-conv snapshot history survived the restart through
    the state store, not just the offsets. Total output must equal the
    batch as-of join on the full data, row for row."""
    import numpy as np
    import pandas as pd

    from pitfeat.ops.asof import asof_join
    from pitfeat.streaming import stream_pit_features

    feats = ["f_0", "f_1"]
    tdir, sdir = str(tmp_path / "turns"), str(tmp_path / "snaps")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    from pyspark.sql import functions as F

    half1 = transcripts.where(F.col("turn_idx") % 2 == 0)
    half2 = transcripts.where(F.col("turn_idx") % 2 == 1)
    half1.write.mode("overwrite").parquet(tdir)
    snapshots.write.mode("overwrite").parquet(sdir)

    def run_once():
        t_s = spark.readStream.schema(spark.read.parquet(tdir).schema).parquet(tdir)
        s_s = spark.readStream.schema(spark.read.parquet(sdir).schema).parquet(sdir)
        q = (
            stream_pit_features(t_s, s_s, feats)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return spark.read.parquet(out)

    n1 = run_once().count()
    assert n1 == half1.count()

    # new files arrive between runs; snapshots arrive with NONE (their
    # matches must come from recovered state)
    half2.write.mode("append").parquet(tdir)
    got_df = run_once()
    keys = ["conv_id", "turn_idx"]
    got = got_df.toPandas().sort_values(keys).reset_index(drop=True)
    want = (
        asof_join(transcripts, snapshots)
        .select(*keys, "ts", "snap_ts", *feats)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(want)  # no duplicates, no losses
    pd.testing.assert_series_equal(got["snap_ts"], want["snap_ts"], check_names=False)
    for c in feats:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            equal_nan=True,
            err_msg=c,
        )


def test_stream_ewma_equals_batch_across_restart(spark, transcripts, tmp_path):
    """W11 streaming leg: per-key EWMA state (one double) must carry across
    micro-batches AND across a checkpoint restart. Run 1 (availableNow)
    processes each conv's time-PREFIX (turn_idx < 10); new files land; run 2
    restarts from the same checkpoint. The union must equal batch
    pitfeat.ewma on the full data bit-for-bit — run-2 rows continue from
    run-1 state recovered through the state store."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pitfeat.ops.ewma import ewma
    from pitfeat.streaming import stream_ewma

    base = transcripts.withColumn("x", F.length("text").cast("double")).select(
        "conv_id", "turn_idx", "ts", "x"
    )
    tdir = str(tmp_path / "turns")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    base.where(F.col("turn_idx") < 10).write.mode("overwrite").parquet(tdir)

    def run_once():
        src = spark.readStream.schema(spark.read.parquet(tdir).schema).parquet(tdir)
        q = (
            stream_ewma(src, "x", 0.3)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return spark.read.parquet(out)

    n1 = run_once().count()
    assert n1 == base.where(F.col("turn_idx") < 10).count()
    base.where(F.col("turn_idx") >= 10).write.mode("append").parquet(tdir)
    got = (
        run_once()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        ewma(base, "x", 0.3, key="conv_id", ts="ts", order_extra=("turn_idx",))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    nan = want["x_ewma"].isna().to_numpy()
    assert (got["x_ewma"].isna().to_numpy() == nan).all()
    # bit-exact: the recurrence is identical arithmetic in both paths
    assert (
        got["x_ewma"].to_numpy()[~nan] == want["x_ewma"].to_numpy()[~nan]
    ).all()
    pd.testing.assert_series_equal(got["ts"], want["ts"], check_names=False)
    np.testing.assert_array_equal(got["x"].to_numpy(), want["x"].to_numpy())


def test_stream_ewma_time_equals_batch_across_restart(spark, transcripts, tmp_path):
    """W12 streaming leg (r6): event-time EWMA state (three doubles —
    weighted mean, accumulated weight, last event-time) must carry across
    micro-batches AND a checkpoint restart, continuing the decay over the
    REAL elapsed time between a conv's run-1 prefix and its run-2 suffix.
    Same prefix/restart protocol as the W11 test; union must equal batch
    pitfeat.ewma_time bit-for-bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pitfeat.ops.ewma import ewma_time
    from pitfeat.streaming import stream_ewma_time

    base = transcripts.withColumn("x", F.length("text").cast("double")).select(
        "conv_id", "turn_idx", "ts", "x"
    )
    tdir = str(tmp_path / "turns")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    base.where(F.col("turn_idx") < 10).write.mode("overwrite").parquet(tdir)

    def run_once():
        src = spark.readStream.schema(spark.read.parquet(tdir).schema).parquet(tdir)
        q = (
            stream_ewma_time(src, "x", 120.0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return spark.read.parquet(out)

    n1 = run_once().count()
    assert n1 == base.where(F.col("turn_idx") < 10).count()
    base.where(F.col("turn_idx") >= 10).write.mode("append").parquet(tdir)
    got = (
        run_once()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        ewma_time(base, "x", 120.0, key="conv_id", ts="ts", order_extra=("turn_idx",))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    nan = want["x_ewma"].isna().to_numpy()
    assert (got["x_ewma"].isna().to_numpy() == nan).all()
    assert (
        got["x_ewma"].to_numpy()[~nan] == want["x_ewma"].to_numpy()[~nan]
    ).all()
    pd.testing.assert_series_equal(got["ts"], want["ts"], check_names=False)


def test_stream_ewma_schema_with_empty_order_extra(spark, transcripts, tmp_path):
    """ADVICE r6: the outputStructType DDL was built by string concatenation,
    so order_extra=() produced '..., t_us long, , x double' and failed to
    parse. Constructing the stateful plan (no query start needed — the DDL
    parses at applyInPandasWithState call time) must succeed and carry the
    right columns for BOTH ewma variants (stream_pit_features shared the
    pattern and got the same segment-list fix)."""
    from pyspark.sql import functions as F

    from pitfeat.streaming import stream_ewma, stream_ewma_time

    base = transcripts.withColumn("x", F.length("text").cast("double")).select(
        "conv_id", "turn_idx", "ts", "x"
    )
    tdir = str(tmp_path / "turns")
    base.write.mode("overwrite").parquet(tdir)
    src = spark.readStream.schema(spark.read.parquet(tdir).schema).parquet(tdir)

    for op in (stream_ewma, stream_ewma_time):
        out = op(src, "x", 0.5, order_extra=())
        assert [f.name for f in out.schema.fields] == [
            "conv_id", "ts", "x", "x_ewma",
        ], op.__name__
