"""Stage-1 plan shape: double metaphone runs exactly once per distinct
fingerprint.

A filter on a Python UDF's output is pushed through Project / Repartition /
Aggregate by alias substitution and inferred across equi-joins, so each copy
re-evaluates the UDF over un-deduplicated rows. ``exploded_metaphone_keys``
therefore encodes inside one ``mapInPandas`` barrier that drops empty codes
itself; these tests pin that the physical plan keeps exactly one Python
operator, directly above the round-robin width pin, and that the keys still
match the pure-Python mirror (empty codes dropped).
"""

from __future__ import annotations

import re

from fia_own_map_spark.functions.combos import (
    exploded_metaphone_keys,
    metaphone_keys_py,
    with_blocking_fingerprints,
)
from fia_own_map_spark.operators.blocking import blocking_keys

PY_OP = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow)\b")

ROWS = [
    ("u1", ["JOHN", "SMITH"], "individual"),
    ("u2", ["SMITH", "JOHN"], "individual"),
    ("u3", ["ACME", "TIMBER", "LLC"], "corporate"),
    ("u4", ["123"], "individual"),  # fingerprint whose code is empty
    ("u5", ["H", "W"], "individual"),  # likewise, via the 2-token tuple
    ("u6", [], "individual"),  # no fingerprints at all
]


def _records(spark):
    df = spark.createDataFrame(
        ROWS, "url string, tokens array<string>, own_type string"
    )
    return with_blocking_fingerprints(df, "tokens", "name_keys")


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _assert_one_python_op_above_round_robin(df) -> None:
    lines = _plan_lines(df)
    py = [i for i, line in enumerate(lines) if PY_OP.search(line)]
    assert len(py) == 1, "\n".join(lines)
    # a unary node's child is the next line of the tree string
    assert "Exchange RoundRobinPartitioning" in lines[py[0] + 1], "\n".join(lines)


def test_exploded_metaphone_keys_plan_has_one_python_op(spark):
    _assert_one_python_op_above_round_robin(exploded_metaphone_keys(_records(spark)))


def test_blocking_keys_plan_has_one_python_op(spark):
    keys = blocking_keys(_records(spark), class_col="own_type", include_soundex=True)
    _assert_one_python_op_above_round_robin(keys)


def test_exploded_metaphone_keys_match_python_mirror(spark):
    keys = exploded_metaphone_keys(_records(spark)).collect()
    got = {(r["url"], r["block_key"]) for r in keys}
    want = {(url, k) for url, toks, _ in ROWS for k in metaphone_keys_py(toks)}
    assert got == want
    assert not any(url in ("u4", "u5", "u6") for url, _ in got)
