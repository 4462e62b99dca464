"""Round-4 additions: recrawl-collapse tiebreak, packing budget
validation, suite branches for passages/chunking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_collapse_recrawls_deterministic_tiebreak(spark):
    """Equal timestamps pick the winner by content, never by partition
    order."""
    import datetime as dt

    from document_ai_spark.operators.curate import collapse_recrawls

    ts = dt.datetime(2026, 1, 1)
    rows = [("u/1", ts, "bbb"), ("u/1", ts, "aaa"), ("u/2", ts, "zzz")]
    results = set()
    for nparts in (1, 2, 3):
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, main_text string"
        ).repartition(nparts)
        got = tuple(sorted(
            (r.url, r.main_text)
            for r in collapse_recrawls(df).collect()
        ))
        results.add(got)
    assert results == {(("u/1", "aaa"), ("u/2", "zzz"))}


def test_pack_sequences_rejects_bad_budget(spark):
    from document_ai_spark.operators.chunking import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 10)], "doc_id long, chunk_words int"
    )
    with pytest.raises(ValueError):
        pack_sequences(chunks, pack_words=0)


def test_suite_shared_passages_branch_non_vacuous(spark):
    """The injected-passage docs (doc 0 and doc_id % 40 == 3) must pair
    up; the branch must not degenerate to all-pairs."""
    from document_ai_spark.queries_suites import _q_shared_passages

    rows = _q_shared_passages(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    injected = sorted(
        r.doc_id
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
        if r.doc_id % 40 == 3
    )
    expect = {
        (a, b) for a in injected for b in injected if a < b
    }
    assert expect <= pairs
    # and nowhere near all-pairs: the df cap kills vocabulary pairing
    assert len(pairs) < 4 * len(expect)


def test_suite_chunking_branch_reconstructs(spark):
    """Chunks must tile the normalized words with the configured
    overlap — verified by reconstructing one long document."""
    from document_ai_spark.queries_suites import (
        CHUNK_MAX_WORDS,
        CHUNK_OVERLAP,
        _q_chunking,
    )

    stride = CHUNK_MAX_WORDS - CHUNK_OVERLAP
    ch = _q_chunking(spark, "/root/testdata/sf0.001")
    multi = ch.filter(F.col("n_chunks") >= 2).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    assert multi  # at least one doc long enough to split
    doc_id = multi[0].doc_id
    rows = [r for r in multi if r.doc_id == doc_id]
    words: list[str] = []
    for r in rows:
        cw = r.chunk_text.split(" ") if r.chunk_text else []
        assert len(cw) == r.chunk_words <= CHUNK_MAX_WORDS
        start = r.chunk_no * stride
        if r.chunk_no:  # overlap region must repeat the previous chunk
            assert words[start : start + CHUNK_OVERLAP] == cw[:CHUNK_OVERLAP]
        words[start:] = cw
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") == doc_id).collect()
    import re as _re

    expect = _re.sub(r"\s+", " ", docs[0].text.strip()).split(" ")
    assert words == expect


def test_curate_cli_collapses_recrawled_urls(spark, corpus_dir, tmp_path,
                                             capsys):
    """Duplicate url rows (re-crawls) must collapse before flagging:
    counts reflect distinct urls and the written table has no url
    twice — with the neardup and lm joins active (the multiplicative
    blowup case)."""
    import datetime as dt
    import json
    import os

    from document_ai_spark.__main__ import main
    from document_ai_spark.operators.extraction import extract_pages

    pages = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(40)
    ex = extract_pages(pages, num_partitions=2)
    dup = ex.limit(3).withColumn(
        "warc_ts",
        F.lit(dt.datetime(2030, 1, 1)).cast("timestamp"),
    )
    src = str(tmp_path / "ex")
    ex.unionByName(dup).write.parquet(src)
    out = str(tmp_path / "kept")
    rc = main([
        "curate", "--extracted", src, "--output", out,
        "--rules", "dedup,neardup,quality,lm",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["total_docs"] == 40  # 43 rows, 40 urls
    kept = spark.read.parquet(out)
    assert kept.groupBy("url").count().filter("count > 1").count() == 0
    # the survivors of a re-crawled url are the NEWEST rows
    newest = kept.filter(F.col("warc_ts") >= "2029-01-01").count()
    dup_urls_kept = kept.join(
        dup.select("url"), "url", "left_semi"
    ).count()
    assert newest == dup_urls_kept


def test_datagen_noindex_pages_gate_non_vacuously(spark, corpus_dir):
    """Every 40th doc declares robots noindex in its head: the polite
    gate must drop exactly those rows, and their goldens must still be
    byte-identical when extracted WITHOUT the gate (head content never
    reaches the article text)."""
    import os

    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.operators.pageflags import indexable_pages

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    kept = indexable_pages(pages)
    dropped = pages.count() - kept.count()
    assert dropped == 5  # i in {4, 44, 84, 124, 164} of 200
    dropped_urls = {
        r.url
        for r in pages.join(
            kept.select("url"), "url", "left_anti"
        ).collect()
    }
    assert dropped_urls == {
        f"https://site-{i % 97}.example/a/{i}" for i in (4, 44, 84, 124, 164)
    }
    # the ungated product path still extracts them byte-identically
    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    ex = extract_pages(pages, salted=False).join(golden, "url")
    mism = ex.filter(
        F.col("expected_text").isNotNull()
        & (F.col("main_text") != F.col("expected_text"))
    ).count()
    assert mism == 0
