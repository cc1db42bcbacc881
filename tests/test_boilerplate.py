"""Per-host boilerplate removal (grouped applyInPandas) tests."""

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators.boilerplate import strip_host_boilerplate
from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
    MAX_DOC_BYTES,
    extract_one,
)


def _pages(spark):
    rows = []
    nav = "HOME | PRODUCTS | CONTACT"
    footer = "(c) example corp"
    for i in range(10):
        rows.append(
            (f"https://big.example.org/p/{i}",
             f"{nav}\nunique content {i}\n{footer}")
        )
    # small host: below min_docs → untouched even though lines repeat
    for i in range(3):
        rows.append(
            (f"https://small.example.org/p/{i}", f"{nav}\nsmall {i}")
        )
    return spark.createDataFrame(rows, ["url", "text"])


def test_boilerplate_stripped_only_for_evidenced_hosts(spark):
    out = {r.url: r for r in strip_host_boilerplate(_pages(spark)).collect()}
    big = out["https://big.example.org/p/4"]
    assert big.text == "unique content 4"
    assert big.n_boilerplate_lines == 2
    small = out["https://small.example.org/p/1"]
    assert "HOME | PRODUCTS" in small.text  # too few docs → untouched
    assert small.n_boilerplate_lines == 0


def test_unique_lines_survive(spark):
    out = strip_host_boilerplate(_pages(spark))
    kept = {r.text for r in out.filter(F.col("host") == "big.example.org").collect()}
    assert kept == {f"unique content {i}" for i in range(10)}


def test_oversized_doc_guard():
    text, ctype, err = extract_one(b"x" * (MAX_DOC_BYTES + 1))
    assert text is None and "exceeds" in err
    # boundary: exactly at the limit is allowed (but invalid html here)
    t2 = extract_one(b"<html>ok</html>")
    assert t2[2] is None
