"""S3/S4 checkpoint lineage + resume (SURVEY.md §5 item 6)."""

import json
import os

import pyarrow.parquet as pq
import pytest

from pitfeat.checkpoint import checkpoint_valid, resume_or_compute, write_checkpoint


def _jobs(spark, group, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted over a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
    plain = _jobs(
        spark,
        "ck-plain-write",
        lambda: transcripts.write.mode("overwrite").parquet(str(tmp_path / "plain")),
    )
    ckpt = _jobs(
        spark,
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


def test_read_back_uses_the_lineage_schema(spark, transcripts, tmp_path):
    """resume_or_compute reads data/ with the schema _lineage.json records:
    the computed branch starts no job beyond the write, the resumed branch
    starts none at all (no parquet schema-inference job), and the frame
    read back has the written frame's columns and types."""
    ck = str(tmp_path / "ck_schema")
    got = {}
    computed = _jobs(
        spark,
        "ck-schema-computed",
        lambda: got.update(c=resume_or_compute(spark, ck, "s", "h1", lambda: transcripts)),
    )
    write_only = _jobs(
        spark,
        "ck-schema-write",
        lambda: write_checkpoint(transcripts, str(tmp_path / "ck_w"), "s", "h1"),
    )
    assert computed == write_only
    resumed = _jobs(
        spark,
        "ck-schema-resumed",
        lambda: got.update(r=resume_or_compute(spark, ck, "s", "h1", lambda: transcripts)),
    )
    assert resumed == 0
    assert (got["c"][1], got["r"][1]) == (False, True)
    written = [(f.name, f.dataType) for f in transcripts.schema.fields]
    for df, _ in (got["c"], got["r"]):
        assert [(f.name, f.dataType) for f in df.schema.fields] == written
    assert got["r"][0].count() == transcripts.count()


def test_checkpoint_of_the_previous_layout_is_recomputed(spark, transcripts, snapshots, tmp_path):
    """config_hash folds in CHECKPOINT_LAYOUT: a stage-1 checkpoint committed
    under the hash of the previous layout (the bare as-of join output, no
    window columns) is recomputed as the windowed cut, never resumed."""
    import hashlib
    from dataclasses import asdict
    from types import SimpleNamespace

    from jobs.build_features import KEYS, build_asof
    from pitfeat.config import PitfeatConfig
    from pitfeat.ops.asof import asof_join

    cfg = PitfeatConfig()
    fields = asdict(cfg)
    fields.pop("extra")
    old_hash = hashlib.sha256(
        json.dumps(fields, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
    assert cfg.config_hash() != old_hash

    t, s = str(tmp_path / "t"), str(tmp_path / "s")
    transcripts.write.parquet(t)
    snapshots.write.parquet(s)
    args = SimpleNamespace(transcripts=t, snapshots=s)
    ck = str(tmp_path / "asof")
    write_checkpoint(asof_join(transcripts, snapshots), ck, "asof", old_hash, inputs=[t, s])
    out, resumed = resume_or_compute(
        spark, ck, "asof", cfg.config_hash(), lambda: build_asof(spark, args, cfg), inputs=[t, s]
    )
    assert not resumed
    assert out.columns[:3] == KEYS and "session_no" in out.columns
    assert not {"text", "role", "tool"} & set(out.columns)
