"""The metric names the benchmark prints are the ones BENCHMARK.json
declares, and a traced iteration's layer split reconciles with its wall.

    python -m pytest pitbench/tests -q
"""

import json
import os

import pytest

from pitbench import run
from pitbench.trace import COUNTERS, Tracer
from pitbench.workloads import WORKLOADS, Corpus, PitHotkey

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def test_printed_names_equal_declared():
    assert {m["name"]: m["unit"] for m in DECLARED["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in DECLARED["per_layer"]} == run.LAYER_METRICS
    assert [w["name"] for w in DECLARED["workloads"]] == list(WORKLOADS)


def _workload(cls):
    wl = cls.__new__(cls)  # layers() needs no session
    wl.last = {"dedup": [(1, 2)] * 3, "knn": [(1, 2, 0.5, 1)] * 10}
    wl.recalls = {"similarity": 0.99, "dedup": 1.0}
    wl.train_s = [0.5]
    return wl


def _spans(tr: Tracer, times: dict, prefix: str) -> None:
    t = 0.0
    for name, dt in times.items():
        tr.spans.append({"name": name, "group": prefix + name, "parent": None,
                         "run_id": "r", "start": t, "end": t + dt})
        t += dt


EAGER = {
    PitHotkey: {"compute_minmax": 0.9, "write_checkpoint.asof": 1.7,
                "write_checkpoint.features": 1.4},
    Corpus: {"minhash_lsh_pairs": 2.4, "collect.dedup": 2.3, "knn_join": 0.9,
             "collect.knn": 6.4},
}
PREFIXES = {
    PitHotkey: ["prefix.io_in", "prefix.asof", "prefix.io_ckpt", "prefix.windows",
                "prefix.normalize", "prefix.vectors"],
    Corpus: ["prefix.docs_in", "prefix.text", "prefix.emb_in"],
}


@pytest.mark.parametrize("cls", [PitHotkey, Corpus])
def test_layer_split_reconciles(cls):
    """Self times telescope to the eager calls' time, whatever the prefixes
    read, and self times plus trace.unattributed_s equal the traced wall."""
    wl, tr = _workload(cls), Tracer("r")
    eager = EAGER[cls]
    times = {"job": sum(eager.values()) + 0.25, **eager}
    times.update({p: 0.1 * (k + 1) for k, p in enumerate(PREFIXES[cls])})
    _spans(tr, times, "it1/")
    groups = {"it1/" + n: dict.fromkeys(COUNTERS, 1.0) | {"task_skew": 2.0} for n in times}
    record = {}
    m = run._layers(wl, tr, groups, [1], 4.0, record)

    assert set(m) <= set(run.LAYER_METRICS)
    self_s = sum(m[k] for k in wl.SELF_TIMES)
    assert self_s == pytest.approx(sum(eager.values()))
    assert self_s + m["trace.unattributed_s"] == pytest.approx(times["job"])
    assert m["trace.unattributed_s"] == pytest.approx(0.25)
    assert m["trace.overhead_s"] == pytest.approx(times["job"] - 4.0)
    assert record["reconcile"]["traced_wall_s"] == times["job"]


def test_every_layer_metric_is_measured_somewhere():
    # set by run() itself
    measured = {"job.wall_s", "job.rows_per_s", "session.start_s", "peak_rss_mb"}
    for cls in WORKLOADS.values():
        wl, tr = _workload(cls), Tracer("r")
        names = ["job", *EAGER[cls], *PREFIXES[cls]]
        _spans(tr, dict.fromkeys(names, 1.0), "it1/")
        measured |= set(run._layers(wl, tr, {}, [1], 1.0, {}))
    assert measured == set(run.LAYER_METRICS)
