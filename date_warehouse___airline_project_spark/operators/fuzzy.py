"""fuzzy_correct — similarity join against a dimension (SURVEY §2.3 J2).

Reference behavior (cleaning.py:262-295): a typo'd code is replaced by the
best-scoring dimension value when the fuzzy score ≥ threshold (85), else
left alone for downstream validation to quarantine.

Spark-first design, built for scale:
  1. distinct dirty values only — corrections are computed once per value,
     not once per row (at 100 TB the distinct code set is tiny vs the fact)
  2. cross join distinct-values × broadcast(dim) — dim is a code list
     (thousands at most), so the candidate space is |distinct| × |dim|
     map-side, no shuffle
  3. score natively: levenshtein similarity and a token-sort variant, both
     pure Column exprs (whole-stage codegen) — no Python in the loop
  4. top-1 via max_by, then broadcast the correction map back onto the data

The native score is ``100 * (1 - levenshtein/max_len)``; ``token_sort``
additionally sorts whitespace tokens first (public fuzzywuzzy
token_sort_ratio semantics re-expressed natively). Both are pure Column
expressions (whole-stage codegen, no Python). ``wratio`` mirrors the shape
of public fuzzywuzzy ``WRatio`` (the reference's scorer,
cleaning.py:262-295) and blends in a ``partial_ratio`` component — the
best same-length substring window of the longer string scored against the
shorter: when the lengths differ enough for windowing to matter (ratio ≥
1.5), WRatio takes the max of the full ratio, the 0.95-scaled token-sort
ratio, and the scaled partial ratio (×0.9, or ×0.6 in the "much much
shorter" regime where one string is >8× the other). Exact members always
score 100. It runs as a Python pair scorer (``_py_wratio``) over the
bounded distinct-values × dim grid; the ``fuzzy_wratio_correction`` oracle
replicates it in DuckDB SQL bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _similarity(a: Column, b: Column) -> Column:
    return 100.0 * (
        1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b), F.lit(1))
    )


def _token_sort(c: Column) -> Column:
    return F.array_join(F.sort_array(F.split(F.trim(c), r"\s+")), " ")


# --- WRatio pair kernel (r12, guide §4.3) -----------------------------------
# A Column form of the blend builds a ~4x-staged expression tree whose
# partial-ratio windows run on Spark's INTERPRETED higher-order path
# (transform/sequence lambdas never reach codegen), and the tree itself
# costs Catalyst analysis per run. The functions below compute the blend
# in Python with a fixed IEEE-double op sequence, which the
# fuzzy_wratio_correction oracle SQL mirrors (pinned by
# tests/test_operators.py::test_fuzzy_wratio_kernel_equals_oracle_sql):
#
#   * similarity: 100.0 * (1.0 - lev / max(la, lb, 1)) — int lev, int
#     max, one double divide, one subtract, one multiply, same order;
#   * token sort/set pieces: Spark trim strips ASCII space only; split
#     on \s+; sort_array / array_sort compare UTF8 BYTES — sorted() with
#     a utf-8 key reproduces that (not code-point order);
#   * partial: per-window similarity with n = max(len(short), 1),
#     window = substring(long, i, n) 1-based truncating, max over
#     windows, 0.0 for an empty shorter string (rapidfuzz/thefuzz
#     semantics — legacy fuzzywuzzy's 100-on-empty would inflate every
#     disjoint token_set pairing to 0.95*pscale*100);
#   * blend: max(...) over doubles with 0.95 * pscale folded left-first.
#
# upper()/trim() stay IN THE PLAN (JVM semantics for case mapping), so
# the kernel only ever sees the already-normalized strings.


def _py_lev(a: str, b: str) -> int:
    """Wagner–Fischer levenshtein over code points — same distance as
    Spark's UTF8String.levenshteinDistance."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (0 if ca == b[j - 1] else 1),
            )
        prev = cur
    return prev[lb]


def _py_sim(a: str, b: str) -> float:
    return 100.0 * (1.0 - _py_lev(a, b) / max(len(a), len(b), 1))


def _py_split(c: str) -> list[str]:
    import re

    return re.split(r"\s+", c.strip(" "))


def _py_sorted(toks: list[str]) -> list[str]:
    return sorted(toks, key=lambda t: t.encode("utf-8"))


def _py_token_sort(c: str) -> str:
    return " ".join(_py_sorted(_py_split(c)))


def _py_token_set_pieces(a: str, b: str) -> tuple[str, str, str]:
    seen_a: dict = dict.fromkeys(_py_split(a))
    seen_b: dict = dict.fromkeys(_py_split(b))
    ta, tb = list(seen_a), list(seen_b)
    sect = " ".join(_py_sorted([t for t in ta if t in seen_b]))
    rest_a = " ".join(_py_sorted([t for t in ta if t not in seen_b]))
    rest_b = " ".join(_py_sorted([t for t in tb if t not in seen_a]))
    c1 = " ".join([sect, rest_a]).strip(" ")
    c2 = " ".join([sect, rest_b]).strip(" ")
    return sect, c1, c2


def _py_partial(a: str, b: str) -> float:
    s, long_ = (a, b) if len(a) <= len(b) else (b, a)
    if len(s) == 0:
        return 0.0
    n = max(len(s), 1)
    best = None
    for i in range(1, max(len(long_) - len(s) + 1, 1) + 1):
        w = long_[i - 1 : i - 1 + n]
        v = 100.0 * (1.0 - _py_lev(s, w) / n)
        if best is None or v > best:
            best = v
    return best


def _py_wratio(a: str, b: str) -> float:
    """WRatio blend mirroring public fuzzywuzzy's structure:

    - ``len_ratio < 1.5`` → max(base ratio, 0.95·token_sort, 0.95·token_set)
    - ``len_ratio ≥ 1.5`` → max(base ratio, pscale·partial,
      0.95·pscale·partial-token-sort, 0.95·pscale·partial-token-set)

    where pscale is 0.9 normally and 0.6 in the "much much shorter" regime
    (``len_ratio > 8``) — so a dim code embedded in a very long dirty
    string scores 60, below the 85 correction threshold, exactly as the
    reference's WRatio leaves it unchanged (cleaning.py:267). The one
    deliberate divergence from public fuzzywuzzy: ratios are levenshtein
    similarity, not difflib's 2M/T — the threshold-parity corpus in
    tests/test_operators.py pins where the two metrics land on opposite
    sides of 85."""
    tsa, tsb = _py_token_sort(a), _py_token_sort(b)
    sect, c1, c2 = _py_token_set_pieces(a, b)
    base = _py_sim(a, b)
    len_ratio = max(len(a), len(b)) / max(min(len(a), len(b)), 1)
    pscale = 0.6 if len_ratio > 8 else 0.9
    if len_ratio >= 1.5:
        return max(
            base,
            pscale * _py_partial(a, b),
            0.95 * pscale * _py_partial(tsa, tsb),
            0.95
            * pscale
            * max(
                _py_partial(sect, c1),
                _py_partial(sect, c2),
                _py_partial(c1, c2),
            ),
        )
    return max(
        base,
        0.95 * _py_sim(tsa, tsb),
        0.95 * max(_py_sim(sect, c1), _py_sim(sect, c2), _py_sim(c1, c2)),
    )


def fuzzy_correct(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_col: str,
    threshold: float = 85.0,
    scorer: str = "levenshtein",
) -> DataFrame:
    """Replace ``col`` values by their best dim match scoring ≥ threshold.

    Adds ``<col>_fuzzy_score`` (100 for exact members, null when no
    candidate met the threshold and the value was left unchanged).
    """
    a = F.upper(F.trim(F.col("_dirty")))
    b = F.upper(F.trim(F.col("_cand")))
    if scorer == "token_sort":
        a, b = _token_sort(a), _token_sort(b)

    dirty = df.select(F.col(col).alias("_dirty")).where(F.col(col).isNotNull()).distinct()
    cands = dim.select(F.col(dim_col).alias("_cand")).where(F.col(dim_col).isNotNull()).distinct()

    pairs = dirty.crossJoin(F.broadcast(cands))
    if scorer == "wratio":
        # r12 (guide §4.2/§4.3): the WRatio blend runs as a Python pair
        # scorer over the bounded |distinct dirty| x |dim| grid — a
        # Column tree's partial-ratio windows execute on Spark's
        # interpreted higher-order path and its analysis dominated the
        # steady-state cost. The kernel equals the oracle SQL bit for
        # bit (pinned by test_fuzzy_wratio_kernel_equals_oracle_sql),
        # and the normalization (upper/trim) stays in the plan so the
        # kernel never applies Python case semantics. The corpus-side
        # broadcast correction join below is untouched.
        from pyspark.sql.types import DoubleType, StructField, StructType

        staged = pairs.select("_dirty", "_cand", a.alias("_ua"), b.alias("_ub"))
        out_schema = StructType(
            [f for f in staged.schema.fields if f.name in ("_dirty", "_cand")]
            + [StructField("_score", DoubleType())]
        )

        def _score_batches(batches):
            from functools import lru_cache

            wr = lru_cache(maxsize=None)(_py_wratio)
            for pdf in batches:
                out = pdf[["_dirty", "_cand"]].copy()
                out["_score"] = [
                    None if ua is None or ub is None else wr(ua, ub)
                    for ua, ub in zip(pdf["_ua"], pdf["_ub"])
                ]
                yield out

        scored = staged.mapInPandas(_score_batches, out_schema)
    else:
        scored = pairs.select("_dirty", "_cand", _similarity(a, b).alias("_score"))

    corrections = (
        scored
        .where(F.col("_score") >= threshold)
        .groupBy("_dirty")
        .agg(
            F.max_by("_cand", F.struct("_score", "_cand")).alias("_best"),
            F.max("_score").alias("_best_score"),
        )
    )

    out = (
        df.join(F.broadcast(corrections), df[col] == corrections["_dirty"], "left")
        .withColumn(col, F.coalesce(F.col("_best"), F.col(col)))
        .withColumn(f"{col}_fuzzy_score", F.col("_best_score"))
        .drop("_dirty", "_best", "_best_score")
    )
    return out
