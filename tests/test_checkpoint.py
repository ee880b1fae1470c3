"""S3/S4 checkpoint lineage + resume (SURVEY.md §5 item 6)."""

import json
import os

import pyarrow.parquet as pq
import pytest

from pitfeat.checkpoint import checkpoint_valid, resume_or_compute, write_checkpoint


def test_checkpoint_roundtrip_and_lineage(spark, transcripts, tmp_path):
    ck = str(tmp_path / "ck1")
    lin = write_checkpoint(transcripts, ck, "stage1", "cfg123", inputs=["in:a"])
    assert lin["total_rows"] == transcripts.count()
    assert lin["n_partitions"] >= 1
    assert sum(p["rows"] for p in lin["partitions"]) == lin["total_rows"]
    assert checkpoint_valid(ck, "cfg123", ["in:a"])
    assert not checkpoint_valid(ck, "OTHER", ["in:a"])  # config change invalidates
    assert not checkpoint_valid(ck, "cfg123", ["in:b"])  # input change invalidates
    back = spark.read.parquet(os.path.join(ck, "data"))
    assert back.count() == transcripts.count()
    # per-partition metrics come from the written files: each pid names a
    # part file under data/ whose Parquet footer holds exactly ``rows``
    for p in lin["partitions"]:
        path = os.path.join(ck, "data", p["pid"])
        assert os.path.isfile(path)
        assert pq.read_metadata(path).num_rows == p["rows"]

    # ... and cost no Spark job beyond the write itself
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs(
        "ck-plain-write",
        lambda: transcripts.write.mode("overwrite").parquet(str(tmp_path / "plain")),
    )
    ckpt = jobs(
        "ck-checkpoint-write",
        lambda: write_checkpoint(transcripts, str(tmp_path / "ck1b"), "stage1", "cfg123"),
    )
    assert 1 <= ckpt <= plain


def test_resume_short_circuits(spark, transcripts, tmp_path):
    ck = str(tmp_path / "ck2")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return transcripts

    df1, resumed1 = resume_or_compute(spark, ck, "s", "h1", compute)
    df2, resumed2 = resume_or_compute(spark, ck, "s", "h1", compute)
    assert (resumed1, resumed2) == (False, True)
    assert calls["n"] == 1
    assert df1.count() == df2.count() == transcripts.count()
    # identical bytes: sorted content equal
    a = df1.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = df2.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert a.equals(b)


def test_missing_marker_invalidates(spark, transcripts, tmp_path):
    ck = str(tmp_path / "ck3")
    write_checkpoint(transcripts, ck, "s", "h1")
    os.remove(os.path.join(ck, "_SUCCESS_PITFEAT"))
    assert not checkpoint_valid(ck, "h1")


def test_lineage_json_is_audit_ready(spark, transcripts, tmp_path):
    ck = str(tmp_path / "ck4")
    write_checkpoint(transcripts, ck, "stageX", "cfgY", inputs=["t1", "t2"])
    with open(os.path.join(ck, "_lineage.json")) as f:
        lin = json.load(f)
    assert lin["stage"] == "stageX"
    assert lin["inputs"] == ["t1", "t2"]
    assert {"pid", "rows", "bytes"} <= set(lin["partitions"][0])


def test_torn_rewrite_invalidates_checkpoint(spark, tmp_path):
    """ADVICE r1: write_checkpoint removes marker+lineage BEFORE touching
    data/, so a crash mid-rewrite leaves the checkpoint absent — never a
    stale marker validating over torn data."""
    import os

    from pitfeat.checkpoint import (
        LINEAGE,
        MARKER,
        checkpoint_valid,
        resume_or_compute,
        write_checkpoint,
    )

    d = str(tmp_path / "ck")
    df = spark.range(5).toDF("x")
    write_checkpoint(df, d, "s", "h1")
    assert checkpoint_valid(d, "h1")
    # CRASH the rewrite for real (mid-data-write), not by hand-deleting the
    # marker: the invariant under test is the ORDERING — invalidation must
    # happen before any data byte, so the interrupted rewrite leaves the
    # marker already gone and the checkpoint reads as absent
    class Boom(RuntimeError):
        pass

    df_exploding = spark.range(5).toDF("x")
    orig_write = type(df_exploding).write

    class _W:
        def __get__(self, obj, owner=None):
            raise Boom("simulated executor failure mid-rewrite")

    type(df_exploding).write = _W()
    try:
        with pytest.raises(Boom):
            write_checkpoint(df_exploding, d, "s", "h2")
    finally:
        type(df_exploding).write = orig_write
    assert not os.path.exists(os.path.join(d, MARKER))  # invalidated FIRST
    assert not checkpoint_valid(d, "h1") and not checkpoint_valid(d, "h2")
    # resume_or_compute treats it as absent, recomputes, restores validity
    out, resumed = resume_or_compute(spark, d, "s", "h1", lambda: df)
    assert not resumed
    assert checkpoint_valid(d, "h1")
    assert out.count() == 5


def test_resume_validates_stage(spark, transcripts, tmp_path):
    """config_hash is per-config (identical across stages), so stage identity
    must be validated at resume: asking for stage B from a dir holding stage
    A's checkpoint must recompute, not silently return A's data."""
    from pitfeat.checkpoint import resume_or_compute

    d = str(tmp_path / "ck_stage")
    a = transcripts.select("conv_id", "turn_idx")
    _, resumed = resume_or_compute(spark, d, "features", "cfg1", lambda: a)
    assert not resumed
    b = transcripts.select("conv_id")
    out, resumed = resume_or_compute(spark, d, "normalize", "cfg1", lambda: b)
    assert not resumed  # stage mismatch -> recomputed (previously resumed=True)
    assert out.columns == ["conv_id"]
