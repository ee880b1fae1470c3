"""Local mirror of the driver's correctness gate: run every queries() entry
via Spark and its oracle_sql() via DuckDB on the same sf dir; compare row
count, column names, and sorted values (NaN==NaN, 1e-9 rel tol on floats —
but in-cap entries additionally FAIL unless every float column is EXACTLY
equal, because the driver hashes float values bit-for-bit and an
operation-order divergence of 1 ulp passes rtol and fails the hash; that is
how the r5 w11_ewma red row shipped).

Usage: python tools/check_contract.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from pitfeat.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame, float_exact: dict | None = None) -> str | None:
    """Compare spark vs oracle frames; on success, ``float_exact`` (if given)
    is filled with col -> exact-equal fraction for every genuinely-float
    column, so callers can enforce the driver's EXACT value hash on top of
    the rtol pass (the r5 ``w11_ewma`` lesson: an operation-order float
    divergence of 4e-16 passes rtol=1e-9 locally and fails the driver)."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns: spark={sorted(a.columns)} oracle={sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows: spark={len(a)} oracle={len(b)}"
    a, b = norm_frame(a), norm_frame(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        # the driver's value-hash is dtype-sensitive across the int/float
        # boundary: DuckDB sum(INTEGER) -> HUGEINT -> float64 in pandas while
        # Spark yields int64, and the two hash differently even when values
        # are numerically equal (VERDICT r1). Mirror that here so the masked
        # class of failure is caught locally. int32-vs-int64 stays fine.
        kinds = {av.dtype.kind, bv.dtype.kind}
        if kinds & {"f"} and kinds & {"i", "u"}:
            return (
                f"col {c}: dtype kind mismatch spark={a[c].dtype} oracle={b[c].dtype}"
                " (driver hash is int/float sensitive — add an explicit cast)"
            )
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float).to_numpy()
            bv = bv.astype(float).to_numpy()
            exact = (av == bv) | (np.isnan(av) & np.isnan(bv))
            fa, fb = av[~np.isnan(av)], bv[~np.isnan(bv)]
            if np.all(fa == np.round(fa)) and np.all(fb == np.round(fb)):
                # integer-valued floats (nullable BIGINTs like *_us epoch
                # columns arrive as float64): rtol=1e-9 at ts magnitudes
                # ~1.7e15 would grant ~1.7e6 us of slack — a 1-microsecond
                # epoch-parity bug would pass here and fail the driver's
                # exact hash. Exact compare instead.
                ok = exact
            else:
                ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True) | (
                    np.isnan(av) & np.isnan(bv)
                )
                if float_exact is not None:
                    float_exact[c] = float(exact.mean()) if len(exact) else 1.0
            if not ok.all():
                i = int(np.argmin(ok))
                return f"col {c}: {av[i]!r} != {bv[i]!r} at sorted row {i} ({(~ok).sum()} diffs)"
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                return f"col {c}: {av.iloc[i]!r} != {bv.iloc[i]!r} at sorted row {i} ({(~eq).sum()} diffs)"
    return None


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filt = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("contract-check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    # the driver checks exactly the first 50 queries() entries and hashes
    # float values EXACTLY — for those, an rtol pass is not enough: any
    # float column below exact-equal fraction 1.0 would be a red driver row
    # (the r5 w11_ewma failure class). Tail entries warn instead of failing.
    in_cap = set(list(qs.keys())[:50])
    missing = [k for k in os_ if k not in qs]
    if missing and not filt:
        # a typo'd/renamed key would otherwise ship with zero semantic check
        print("FAIL contract: oracle(s) without a queries() entry:", missing)
    failed = list(missing) if not filt else []
    for name, fn in qs.items():
        if filt and filt not in name:
            continue
        try:
            got = fn(spark, sf).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            failed.append(name)
            continue
        if name not in os_:
            # every current entry is oracled; an un-oracled one means a
            # renamed/typo'd key and must FAIL, not quietly pass rows-only
            print(f"FAIL {name}: no oracle_sql() entry (renamed key?)")
            failed.append(name)
            continue
        try:
            want = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {str(ex)[:300]}")
            failed.append(name)
            continue
        float_exact: dict = {}
        err = compare(got, want, float_exact)
        if err is None and len(got) == 0:
            # 0==0 rows is agreement about nothing (VERDICT r2 missing #4);
            # every contract query returns rows at every driver sf
            err = "0 rows on BOTH sides — vacuous match"
        inexact = {c: f for c, f in float_exact.items() if f < 1.0}
        if err is None and inexact:
            detail = ", ".join(f"{c}: exact-equal {f:.4f}" for c, f in inexact.items())
            if name in in_cap:
                err = (
                    f"float col(s) pass rtol but NOT hash-exact ({detail}) — the "
                    "driver's exact value hash WILL fail; round both sides "
                    "(t3_quality/w11 precedent)"
                )
            else:
                print(f"WARN {name}: tail entry not hash-exact ({detail})")
        if err:
            print(f"FAIL {name}: {err}")
            failed.append(name)
        else:
            print(f"OK   {name}: rows={len(got)}")
    print()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
