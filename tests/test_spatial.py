"""2-D nearest-right word search: hand-checked geometry, reference
sentinel behavior, in-kernel == relational equivalence, oracle parity
and the relational plan's shape."""

from __future__ import annotations

import duckdb
import pandas as pd

from document_ai_spark.operators.spatial import (
    _levenshtein,
    next_right_in_page,
    next_right_word_kernel,
)
from document_ai_spark.plans.audit import formatted_plan
from document_ai_spark.queries_spatial import (
    KEYS_2D,
    KEYS_FUZZY,
    SQL_NEXT_RIGHT_WORD_2D,
    _word_boxes,
    q_fuzzy_key_next_right,
    q_next_right_word_2d,
)
from scripts.check_oracle import canon

SF = "/root/testdata/sf0.001"


def _page(rows):
    return pd.DataFrame(
        rows,
        columns=["doc_id", "i", "word", "x_min", "x_max", "y_min", "y_max"],
    )


def test_next_right_hand_checked():
    # key at x 10-20; right neighbor at 25-35 same line; a distractor on
    # another line (no y overlap) and a nearer-but-left box
    page = _page([
        (1, 0, "hello", 10, 20, 10, 34),
        (1, 1, "world", 25, 35, 12, 36),   # overlap 22 > 10 -> candidate
        (1, 2, "below", 25, 35, 60, 84),   # no y overlap
        (1, 3, "left", 0, 8, 10, 34),      # x_min not > key x_min
    ])
    res = next_right_in_page(page, ["hello"])
    assert res.iloc[0].next_word == "world"
    # overlap of exactly min_overlap must NOT qualify (strict >)
    page2 = _page([
        (1, 0, "hello", 10, 20, 0, 24),
        (1, 1, "edge", 25, 35, 14, 48),    # overlap = 10 exactly
    ])
    assert next_right_in_page(page2, ["hello"]).iloc[0].next_word == "<EMPTY>"
    # beyond max_distance -> <EMPTY>; absent key -> <NOT_FOUND>
    page3 = _page([
        (1, 0, "hello", 0, 10, 0, 24),
        (1, 1, "far", 400, 410, 0, 24),
    ])
    r3 = next_right_in_page(page3, ["hello", "absent"])
    assert list(r3.next_word) == ["<EMPTY>", "<NOT_FOUND>"]


def test_fuzzy_first_match_wins():
    # "sow" matches both "slow" (i=0) and "row" (i=5) at distance 1; the
    # key box must be the FIRST in reading order even if the later match
    # would yield a nearer candidate
    page = _page([
        (1, 0, "slow", 0, 36, 0, 24),
        (1, 1, "next", 110, 146, 0, 24),
        (1, 5, "row", 550, 577, 0, 24),
        (1, 6, "wrong", 660, 705, 0, 24),
    ])
    res = next_right_in_page(page, ["sow"], fuzzy_margin=1)
    assert res.iloc[0].next_word == "next"


def test_levenshtein_matches_engines(spark):
    from pyspark.sql import functions as F

    cases = [("sow", "slow"), ("sow", "row"), ("batsh", "batch"),
             ("windoe", "window"), ("abc", "abc"), ("", "xy"),
             ("kitten", "sitting")]
    df = spark.createDataFrame(cases, ["a", "b"]).select(
        F.levenshtein("a", "b").alias("d")
    )
    got = [r.d for r in df.collect()]
    assert got == [_levenshtein(a, b) for a, b in cases]


def test_kernel_equals_relational(spark):
    """The fused applyInPandas kernel and the relational self-join form
    must agree row-for-row on the driver corpus, exact and fuzzy."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    boxes = _word_boxes(docs)

    def snap(df):
        return sorted(
            (r.doc_id, r.key, r.next_word,
             None if r.dist is None else round(r.dist, 6))
            for r in df.collect()
        )

    rel = snap(q_next_right_word_2d(spark, SF))
    ker = snap(next_right_word_kernel(boxes, KEYS_2D))
    # the kernel emits no row for docs with zero boxes; relational emits
    # <NOT_FOUND> for them — compare on the kernel's support
    ker_docs = {(d, k) for d, k, _, _ in ker}
    assert [r for r in rel if (r[0], r[1]) in ker_docs] == ker

    relf = snap(q_fuzzy_key_next_right(spark, SF))
    kerf = snap(next_right_word_kernel(boxes, KEYS_FUZZY, fuzzy_margin=1))
    kerf_docs = {(d, k) for d, k, _, _ in kerf}
    assert [r for r in relf if (r[0], r[1]) in kerf_docs] == kerf
    # and the fuzzy run is non-degenerate: real words found
    found = [r for r in relf if r[2] not in ("<NOT_FOUND>", "<EMPTY>")]
    assert len(found) > 0


def test_next_right_word_2d_matches_duckdb(spark):
    """The broadcast key-box rewrite must stay value-identical to the
    DuckDB oracle at sf0.001 (the full gate runs at sf0.01 via
    scripts/check_oracle)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    sdf = q_next_right_word_2d(spark, SF).toPandas()
    odf = con.execute(SQL_NEXT_RIGHT_WORD_2D).df()
    assert len(sdf) == len(odf)
    assert canon(sdf)[0] == canon(odf)[0]


def test_next_right_word_2d_plan_shape(spark):
    """Plan pin: the key-box table is broadcast into every join, so the
    plan has no SortMergeJoin, and no exchange repartitions the scan to
    a fixed partition count."""
    plan = formatted_plan(q_next_right_word_2d(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "REPARTITION_BY_NUM" not in plan
