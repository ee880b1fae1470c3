"""The event-log reader on a tiny recorded log.

data/tiny_eventlog.jsonl is a real Spark 4.1 event log of three jobs on
local[2], trimmed to the events and fields the reader uses:

- no job group: ``spark.range(10).count()`` (must be ignored);
- group ``udf``: a pandas UDF over 2000 ids, then a 3-key group-by;
- group ``io``: write 500 ids to parquet, read them back and sum.
"""

import os

import pytest

from pitbench.trace import combine, read_event_log, skew

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return read_event_log(LOG)


def test_groups_and_jobs(groups):
    assert set(groups) == {"udf", "io"}
    assert groups["udf"]["jobs"] == 1
    assert groups["io"]["jobs"] == 3


def test_arrow_boundary_and_python_time(groups):
    udf = groups["udf"]
    assert udf["python_s"] == pytest.approx(3.875)
    assert udf["to_python_mb"] == pytest.approx(16544 / 2**20)
    assert udf["from_python_mb"] == pytest.approx(16288 / 2**20)
    assert groups["io"]["python_s"] == 0


def test_scan_shuffle_and_output(groups):
    udf, io = groups["udf"], groups["io"]
    assert udf["rows_in"] == 2000
    assert udf["shuffle_write_mb"] == pytest.approx(269 / 2**20)
    assert udf["scan_stages"] == 1
    assert io["rows_in"] == 1000  # 500 ids written, 500 read back
    assert io["output_mb"] == pytest.approx(2978 / 2**20)
    assert io["input_mb"] == pytest.approx(970 / 2**20)
    assert io["scan_stages"] == 2
    assert udf["gc_s"] == pytest.approx(0.05)


def test_task_skew_is_from_the_stage_behind_the_shuffle(groups):
    assert groups["udf"]["task_skew"] == pytest.approx(1.0114942528735633)
    assert skew(groups, ["udf", "io", "missing"]) == groups["udf"]["task_skew"]


def test_combine_adds_and_subtracts(groups):
    both = combine(groups, ["udf", "io"])
    assert both["jobs"] == 4
    diff = combine(groups, ["udf", "io"], ["io", "missing"])
    assert diff["rows_in"] == pytest.approx(2000)
    assert diff["jobs"] == pytest.approx(1)
