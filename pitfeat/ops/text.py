"""Text-analysis operators for large-scale training-data pipelines.

Language-ID by stopword-hit heuristic, quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. All are Catalyst expressions except quality scoring's three
integer counts, which come from one fused Arrow kernel. Designed for the
``documents`` table shape (doc_id, text, lang, source, n_chars) but generic
over any text column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword seeds for the n-gram/stopword heuristic; fixed
# vocab keeps the operator deterministic and broadcast-free
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _normalized(col):
    """Catalyst text normalization: trim, lowercase, every ``\\s+`` run
    (Java's ASCII whitespace class) -> one space. Shared by ``fingerprint``,
    ``dedup.exact_dedup`` and ``dedup._shingles``."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _hits(col, words):
    # marker-token hits with multiplicity (filter keeps duplicates,
    # unlike array_intersect which dedups)
    toks = F.split(F.lower(col), r"\s+")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Language-ID heuristic: argmax of stopword-marker hits; 'und' when no
    marker hits at all."""
    scores = [(_hits(F.col(text_col), ws)).alias(f"__s_{lg}") for lg, ws in _LANG_MARKERS.items()]
    tmp = df.select("*", *scores)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"__s_{lg}") for lg in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"__s_{lg}") == best, F.lit(lg))
    return tmp.withColumn(out_col, pred).drop(*[f"__s_{lg}" for lg in langs])


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish sub-token estimate (words + punctuation
    runs + ~1 token per 4 chars of long words)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    ws = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(ws)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/:-@\\\[-`{-~]", ""))
    bpe_ish = (F.length(F.col(text_col)) / F.lit(4.0)).cast("long") + punct
    return df.withColumn("n_tokens_ws", ws.cast("long")).withColumn(
        "n_tokens_bpe", F.greatest(ws.cast("long"), bpe_ish)
    )


def _quality_counts_udf():
    """Fused Arrow kernel: text -> struct(n_tok, n_stop, n_punct) — the three
    INTEGER counts the quality score is built from. Exact-parity replacement
    (r8) for the Catalyst subexpressions it displaces, which ran interpreted
    (split + higher-order filter + regexp_replace, measured ~1.3 ms/doc):

    - n_tok   == size(split(lower(text), '\\s+'))       (empties kept, like
      Java split with limit -1; the split class is written out as Java's
      ASCII \\s = [ \\t\\n\\x0B\\f\\r] so pandas' Unicode \\s can't diverge)
    - n_stop  == size(filter(toks, t -> t IN markers))  (multiplicity kept)
    - n_punct == length(regexp_replace(text, '[^!-/:-@\\\\[-`{-~]', ''))
      (punct chars live inside tokens — whitespace is never punct — so the
      count folds over the factorized UNIQUE tokens only; lowercasing moves
      no character in or out of the ASCII punct ranges)

    NULL text yields a NULL struct, reproducing split(NULL)/size(NULL)/
    length(NULL) null propagation in the downstream expressions. Counting is
    integer-exact, so every float the score computes from these is
    bit-identical to the expression path (pinned by the parity test). The
    tokenizer is deliberately NOT dedup's ``_token_hashes``: no strip,
    empty tokens kept, null stays null."""
    import re

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    stop_words = np.array(
        sorted({w for ws in _LANG_MARKERS.values() for w in ws}), dtype=object
    )
    punct_re = re.compile(r"[!-/:-@\[-`{-~]")

    def kernel(texts):
        ok = texts.is_valid().to_numpy(zero_copy_only=False)
        toks = texts.drop_null().to_pandas().str.lower().str.split(r"[ \t\n\x0b\f\r]+")
        # every non-null row has >= 1 token ("" splits to [""])
        lens = toks.str.len().to_numpy(dtype=np.int64)
        flat = np.concatenate(toks.to_numpy()) if len(toks) else np.array([], dtype=object)
        codes, uniq = pd.factorize(flat)
        pc_uniq = np.fromiter(
            (len(punct_re.findall(t)) for t in uniq), dtype=np.int64, count=len(uniq)
        )
        offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        counts = np.zeros((3, len(ok)), dtype=np.int64)
        counts[0, ok] = lens
        counts[1, ok] = np.add.reduceat(np.isin(uniq, stop_words)[codes].astype(np.int64), offs)
        counts[2, ok] = np.add.reduceat(pc_uniq[codes], offs)
        return pa.StructArray.from_arrays(
            list(counts), names=["n_tok", "n_stop", "n_punct"], mask=pa.array(~ok)
        )

    return arrow_udf(kernel, "struct<n_tok: long, n_stop: long, n_punct: long>")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from length, punctuation ratio, stopword
    ratio, and mean word length — the standard cheap pre-filter stack."""
    # Widen narrow inputs (single-row-group file => one scan task) so the
    # kernel runs cores-wide; no-op on already-parallel inputs, per-row
    # math, partitioning-invariant results.
    from pitfeat.ops.util import widen_partitions

    df = widen_partitions(df)
    length = F.length(F.col(text_col))
    # the three integer counts come from ONE fused Arrow kernel (r8 — the
    # split/filter/regexp subexpressions ran interpreted at ~1.3 ms/doc);
    # the score arithmetic below is unchanged, and integer-exact counts
    # make every downstream float bit-identical to the expression path
    cnts = _quality_counts_udf()(F.col(text_col))
    n_tok = F.greatest(cnts["n_tok"], F.lit(1))
    stop_ratio = cnts["n_stop"] / n_tok
    punct_ratio = cnts["n_punct"] / F.greatest(length, F.lit(1))
    mean_wlen = length / n_tok
    len_score = F.least(length / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))
    stop_score = F.least(stop_ratio * 4.0, F.lit(1.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 10), 1.0).otherwise(0.3)
    return (
        df.withColumn("q_len", len_score.cast("double"))
        .withColumn("q_punct", punct_score.cast("double"))
        .withColumn("q_stop", stop_score.cast("double"))
        .withColumn("q_wlen", wlen_score.cast("double"))
        .withColumn(
            "quality",
            ((len_score + punct_score + stop_score + wlen_score) / 4.0).cast("double"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp64") -> DataFrame:
    """Order-sensitive document fingerprint over the whitespace-normalized,
    lowercased text: ``out_col`` (64-bit xxhash64, fine for CANDIDATE
    buckets) plus ``{out_col}b`` (a second, independently-seeded hash).

    Identity decisions must key on BOTH columns: a single 64-bit key expects
    n^2/2^65 collisions — ≈2.7x10^4 silently-merged distinct docs at n=10^12;
    the 128-bit pair expects ≈1.5x10^-15 (zero for any physical corpus)."""
    norm = _normalized(F.col(text_col))
    # lit FIRST: xxhash64 folds left-to-right with the running hash as seed,
    # so lit-last would make this column a pure function of out_col (collides
    # exactly when it does); lit-first = a genuinely different fixed seed
    return df.withColumn(out_col, F.xxhash64(norm)).withColumn(
        f"{out_col}b", F.xxhash64(F.lit(0x9E3779B9).cast("long"), norm)
    )
