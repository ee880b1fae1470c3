"""Oracle-degeneracy audit: a green contract row only means Spark and
DuckDB AGREE — if the query's discriminating predicate never fires, they
agree about nothing (the j4_range_join lesson: five rounds of green rows
over temporally-disjoint tables whose range predicate matched zero events,
and the forward-direction as-of entries, all-null on both sides for the
same reason; both found by this audit in r6 and de-vacuified).

Runs every oracle_sql() on DuckDB at the given sf dir and flags results
that are empty or have CONSTANT columns, except the allowlisted
by-construction constants below. Exit 1 on any unexplained degeneracy —
run it whenever a contract entry or fixture changes.

Usage: python tools/audit_oracles.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# (entry, column) -> why a constant column is the DESIGNED outcome there,
# not a dead predicate. Keep every entry justified; an unexplained constant
# is exactly what this tool exists to catch.
ALLOWED_CONSTANT = {
    ("p1_projection_filter", "event_type"): "the query FILTERS to event_type = 'purchase'",
    ("f_date_funcs", "month_str"): "the events fixture spans a single month (dow varies)",
    ("d2_minhash_lsh", "jaccard"): "planted exact duplicates — jaccard 1.0 is the assertion",
    ("d3_simhash_pairs", "hamming"): "planted exact duplicates — hamming 0 is the assertion",
    ("s3_embedding_neardup", "cosine"): "planted identical vectors — cosine 1.0 is the assertion",
}


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            df = con.execute(sql).fetchdf()
        except Exception as ex:
            bad.append(f"{name}: oracle error {str(ex)[:120]}")
            continue
        if len(df) == 0:
            bad.append(f"{name}: ZERO oracle rows — vacuous entry")
            continue
        if len(df) == 1:
            continue  # single-row aggregates are constant by shape
        for c in df.columns:
            if df[c].nunique(dropna=False) <= 1:
                why = ALLOWED_CONSTANT.get((name, c))
                if why:
                    print(f"ok   {name}.{c}: constant by design — {why}")
                else:
                    bad.append(
                        f"{name}: column {c!r} CONSTANT ({df[c].iloc[0]!r}) over "
                        f"{len(df)} rows — dead predicate? (allowlist it with a "
                        "justification if designed)"
                    )
    print()
    if bad:
        for b in bad:
            print("DEGENERATE", b)
        sys.exit(1)
    print("AUDIT OK — no unexplained degeneracies")


if __name__ == "__main__":
    main()
