"""Token-combination blocking-key generation (SURVEY.md §2.8 F11-F14).

Reference semantics:
  * `Classify_Unknowns_opt.py:166-170` ``generate_combinations``: the full
    token tuple plus every (n-1)-subset when n > 2.
  * `Name_Matching_opt.py:64-65` ``generate_normalized_name``: join the
    *sorted* tokens with '' and upper-case — an order-insensitive name
    fingerprint (defeats token reordering like "JOHN SMITH" / "SMITH JOHN").
  * `Name_Matching_opt.py:67-69,100-106`: primary double-metaphone of each
    fingerprint is the blocking key.

Implementation is native Catalyst higher-order functions (transform / filter
with index / array_sort / array_join) — no Python until the final metaphone
step, a ``mapInPandas`` over the **distinct** fingerprints (dedup-before-UDF
cuts the Python work by the key-repetition factor). ``MapInPandas`` is a
plan barrier that predicate pushdown does not cross, so double metaphone
runs exactly once per distinct fingerprint.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.functions.phonetic import double_metaphone


def token_combinations(tokens: Column | str) -> Column:
    """array<array<string>>: [full tuple] + all (n-1)-subsets when n > 2."""
    a = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(a)
    minus_one = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.filter(a, lambda _, j: j != i),
    )
    return F.when(n > 2, F.concat(F.array(a), minus_one)).otherwise(F.array(a))


def normalized_name_keys(tokens: Column | str) -> Column:
    """array<string> of sorted-token-concat fingerprints, one per combination."""
    return F.filter(
        F.array_distinct(
            F.transform(
                token_combinations(tokens),
                lambda c: F.upper(F.array_join(F.array_sort(c), "")),
            )
        ),
        lambda fp: F.length(fp) > 0,
    )


def with_blocking_fingerprints(
    df: DataFrame, tokens_col: str = "tokens", out_col: str = "name_keys"
) -> DataFrame:
    return df.withColumn(out_col, normalized_name_keys(tokens_col))


def _dm_primary_nonempty(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(_fp, _code) with the primary double-metaphone code of each ``_fp``;
    rows whose code is empty are dropped here, in Python, so no Spark
    predicate references the code."""
    for pdf in batches:
        codes = pdf["_fp"].map(lambda v: double_metaphone(v)[0])
        keep = codes.str.len() > 0
        yield pd.DataFrame({"_fp": pdf["_fp"][keep], "_code": codes[keep]})


def exploded_metaphone_keys(
    df: DataFrame,
    id_col: str = "url",
    fingerprint_col: str = "name_keys",
    key_col: str = "block_key",
) -> DataFrame:
    """(id, block_key) edge list: explode fingerprints, metaphone-encode.

    Double metaphone runs once per **distinct** fingerprint and the codes
    are joined back — at web scale fingerprints repeat heavily (that is the
    whole point of blocking), so this bounds Python work by the number of
    distinct names, not the number of rows.

    The encoding is a ``mapInPandas`` that also drops empty codes, not a
    scalar UDF followed by ``filter(length(key) > 0)``. Catalyst pushes a
    filter on a UDF's output through Project/Repartition/Aggregate by alias
    substitution and infers it across the ``_fp`` equi-join, so that shape
    evaluated the UDF three times, twice over every exploded row.
    ``MapInPandas`` is a barrier that neither pushdown nor constraint
    inference crosses, so the plan holds exactly one Python operator and
    nothing is filtered after the join.
    """
    exploded = df.select(
        F.col(id_col), F.explode(fingerprint_col).alias("_fp")
    ).filter(F.length("_fp") > 0)
    # dedup first (map-side partial aggregation shrinks the shuffle by the
    # fingerprint-repetition factor — the point of dedup-before-UDF), then
    # pin the Python stage's width with a ROUND-ROBIN repartition. The pin
    # must be round-robin: a hash repartition on _fp at the job shuffle width
    # is provably redundant with the distinct's own exchange, so Catalyst
    # COLLAPSES it (verified in plans/r08/er_blocking_keys_before.txt: the
    # only exchange is ENSURE_REQUIREMENTS), and ENSURE_REQUIREMENTS
    # exchanges are exactly what AQE's size-based coalescing folds to one
    # partition — a few MB of distinct fingerprints would run the per-ROW-
    # cost metaphone step single-threaded. REPARTITION_BY_NUM round-robin
    # survives both the optimizer and AQE, and it moves only the already-
    # deduped slim fingerprint table.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    codes = (
        exploded.select("_fp")
        .distinct()
        .repartition(width)
        .mapInPandas(_dm_primary_nonempty, "_fp string, _code string")
    )
    return (
        exploded.join(codes, "_fp")
        .select(id_col, F.col("_code").alias(key_col))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Pure-Python oracle mirrors (shared with tests)
# ---------------------------------------------------------------------------
def token_combinations_py(tokens: list[str]) -> list[tuple[str, ...]]:
    """`Classify_Unknowns_opt.py:166-170` exact semantics."""
    coms = [tuple(tokens)]
    if len(tokens) > 2:
        coms.extend(itertools.combinations(tokens, len(tokens) - 1))
    return coms


def metaphone_keys_py(tokens: list[str]) -> list[str]:
    """`Name_Matching_opt.py:100-106` exact semantics: primary DM of the
    sorted-token-concat of every combination."""
    keys = []
    for comb in token_combinations_py(tokens):
        fingerprint = "".join(sorted(comb)).upper()
        if fingerprint:
            k = double_metaphone(fingerprint)[0]
            if k:
                keys.append(k)
    # de-dup preserving order (mirrors array_distinct on the Spark side)
    seen: set[str] = set()
    out = []
    for k in keys:
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out
