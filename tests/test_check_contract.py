"""Tests of the local correctness gate itself (tools/check_contract.py).

The r5 postmortem (VERDICT r5 "What's wrong" #2): the checker's rtol=1e-9
float compare passed the w11_ewma pairing locally while the driver's EXACT
value hash failed it — the engine computes the adjust=False recurrence, the
oracle the O(n^2) closed form, and the two float summation orders diverge by
up to ~4e-16 relative. These tests pin the hardened behavior: compare() now
reports the exact-equal fraction per genuinely-float column, and main()'s
in-cap gate fails any entry below 1.0.
"""

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location(
    "check_contract", ROOT / "tools" / "check_contract.py"
)
check_contract = importlib.util.module_from_spec(spec)
sys.modules["check_contract"] = check_contract
spec.loader.exec_module(check_contract)
compare = check_contract.compare


def _ewma_pairing(n_keys=50, n_per_key=40, alpha=0.25, seed=7):
    """The pre-fix w11 pairing in miniature: per-key EWMA via the pandas
    adjust=False RECURRENCE (the engine, pitfeat/ops/ewma.py) vs the O(n^2)
    CLOSED FORM (the SQL oracle) on identical data. Mathematically equal;
    different float summation orders."""
    rng = np.random.default_rng(seed)
    rows_eng, rows_orc = [], []
    for k in range(n_keys):
        x = rng.normal(50.0, 20.0, n_per_key)
        y_rec = pd.Series(x).ewm(alpha=alpha, adjust=False).mean().to_numpy()
        y_cf = np.empty(n_per_key)
        for i in range(n_per_key):
            w = np.where(
                np.arange(i + 1) == 0,
                (1 - alpha) ** i,
                alpha * (1 - alpha) ** (i - np.arange(i + 1)),
            )
            # deliberate index-order summation, like SQL's SUM over the join
            y_cf[i] = float(np.sum(w * x[: i + 1]))
        ids = np.arange(n_per_key) + k * n_per_key
        rows_eng.append(pd.DataFrame({"event_id": ids, "value_ewma": y_rec}))
        rows_orc.append(pd.DataFrame({"event_id": ids, "value_ewma": y_cf}))
    return pd.concat(rows_eng, ignore_index=True), pd.concat(rows_orc, ignore_index=True)


def test_unrounded_w11_pairing_is_flagged_not_masked():
    eng, orc = _ewma_pairing()
    # precondition: the divergence class actually exists in the fixture —
    # bit-identical frames would make this test vacuous
    assert not np.array_equal(eng["value_ewma"].to_numpy(), orc["value_ewma"].to_numpy())
    float_exact = {}
    err = compare(eng, orc, float_exact)
    # rtol STILL passes (the values are right to machine precision) ...
    assert err is None
    # ... but the hardened checker now surfaces what the driver hash sees
    assert "value_ewma" in float_exact
    assert float_exact["value_ewma"] < 1.0


def test_rounded_pairing_is_hash_exact():
    eng, orc = _ewma_pairing()
    eng["value_ewma"] = eng["value_ewma"].round(6)
    orc["value_ewma"] = orc["value_ewma"].round(6)
    float_exact = {}
    assert compare(eng, orc, float_exact) is None
    assert float_exact.get("value_ewma", 1.0) == 1.0


def test_integer_valued_floats_keep_exact_compare():
    # the pre-existing special case (epoch-us columns as float64) must still
    # compare exactly, not report a fraction — a 1us divergence FAILS outright
    a = pd.DataFrame({"ts_us": [1.7e15, 1.7e15 + 2e6]})
    b = pd.DataFrame({"ts_us": [1.7e15, 1.7e15 + 2e6 + 1]})
    err = compare(a, b, {})
    assert err is not None and "ts_us" in err


def test_genuine_value_error_still_fails():
    a = pd.DataFrame({"v": [1.5, 2.5]})
    b = pd.DataFrame({"v": [1.5, 2.6]})
    assert compare(a, b, {}) is not None


def test_compare_without_dict_still_works():
    a = pd.DataFrame({"v": [1.5, 2.5]})
    assert compare(a, a.copy()) is None


def test_contract_registry_structure():
    """Registry invariants the driver depends on but nothing else pinned:
    (a) every queries() entry has an oracle and vice versa; (b) the driver
    checks exactly the FIRST 50 entries, and t4_fingerprint must close that
    window (the round-1 driver checked 50 of 51 and silently dropped the
    last — BASELINE.md 'Contract verification coverage'); (c) the r7
    rotation actually took effect: the four r6-new entries sit in-cap, the
    four displaced ones in the tail."""
    import __spark_entry__ as E

    qs = list(E.queries().keys())
    os_ = set(E.oracle_sql().keys())
    assert set(qs) == os_, (set(qs) ^ os_)
    assert qs[49] == "t4_fingerprint"
    cap = set(qs[:50])
    for k in ("j1_merge_nearest", "w12_ewma_time", "d5_components",
              "j4b_interval_pure"):
        assert k in cap, f"{k} should be in-cap after the r7 rotation"
    for k in ("j5_anti_join", "w5_cumulative", "o4_except", "f_date_funcs"):
        assert k not in cap, f"{k} should be in the tail after the r7 rotation"


@pytest.mark.parametrize("tool", ["check_contract.py", "audit_oracles.py"])
def test_tools_import_the_entry_of_their_own_checkout(tmp_path, tool):
    """Each tool puts its own checkout's root first on sys.path, so run from
    a second checkout it checks that checkout's __spark_entry__: a copy in
    tmp_path/tools/ must import the stub entry at tmp_path, even with this
    checkout (for pitfeat) on PYTHONPATH."""
    (tmp_path / "tools").mkdir()
    copy = tmp_path / "tools" / tool
    copy.write_text((ROOT / "tools" / tool).read_text())
    (tmp_path / "__spark_entry__.py").write_text("STUB = True\n")
    elsewhere = tmp_path / "cwd"
    elsewhere.mkdir()
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('tool', {str(copy)!r})\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "print(sys.modules['__spark_entry__'].__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=elsewhere, capture_output=True,
        text=True, env={**os.environ, "PYTHONPATH": str(ROOT)}, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert Path(out.stdout.strip().splitlines()[-1]) == tmp_path / "__spark_entry__.py"
