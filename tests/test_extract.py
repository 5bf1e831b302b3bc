"""Link/field extraction semantics: the 3 selector families, depth deltas,
urljoin + canonicalization, offset ordering and media exclusion."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_spark.config import DEFAULT_EXTRACTION_RULES
from distributed_web_scrapper_and_crawler_spark.operators.extract import (
    extract_fields_udf,
    extract_links,
    spans_sorted,
)
from distributed_web_scrapper_and_crawler_spark.sources.corpus import CORPUS_SPARK_SCHEMA

DOC = {
    "doc_id": "http://h.example.test/page/1",
    "spans": [
        # deliberately out of offset order: extraction must sort by offset
        {"kind": "link_book", "text": "/page/2?b=2&a=1#f", "media_ref": "", "offset": 30},
        {"kind": "text", "text": "title=The Book", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "http://h.example.test/i.jpg", "offset": 20},
        {"kind": "link_next", "text": "http://h.example.test/page/2", "media_ref": "", "offset": 10},
        {"kind": "link_cat", "text": "/cat/3", "media_ref": "", "offset": 40},
        {"kind": "text", "text": "price=£9.99", "media_ref": "", "offset": 50},
    ],
}


def _df(spark):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame([DOC]), schema=CORPUS_SPARK_SCHEMA)


def test_three_families_and_depth_deltas(spark):
    """The production links path (extract_links, run by plans/round.py):
    offset order, pos rank, per-family depth delta, urljoin +
    canonicalization, media exclusion — in both modes."""
    fetched = _df(spark).select(
        F.lit(11).cast("long").alias("seq"),
        F.lit(2).alias("depth"),
        F.col("doc_id").alias("url"),
        "spans",
    )
    # offset order: link_next(10) pos0, link_book(30) pos1, link_cat(40) pos2
    book = {
        True: "http://h.example.test/page/2",  # parity drops query + fragment
        False: "http://h.example.test/page/2?a=1&b=2",  # params sorted, fragment stripped
    }
    for parity in (True, False):
        rows = extract_links(fetched, parity, need_path=True).orderBy("pos").collect()
        got = [(r["parent_seq"], r["url"], r["host"], r["path"], r["depth"], r["pos"]) for r in rows]
        assert got == [
            # pagination: same depth (remote_worker.py:236)
            (11, "http://h.example.test/page/2", "h.example.test", "/page/2", 2, 0),
            # book: depth+1 (:220), urljoin'd against the page url
            (11, book[parity], "h.example.test", "/page/2", 3, 1),
            # category: same depth (:252)
            (11, "http://h.example.test/cat/3", "h.example.test", "/cat/3", 2, 2),
        ], f"parity={parity}"
        # media span NOT emitted (reference never fetches images)
        assert len(rows) == 3
        # without robots enforcement the path column is never computed
        no_path = extract_links(fetched, parity, need_path=False)
        assert "path" not in no_path.columns
        assert [tuple(r) for r in no_path.orderBy("pos").collect()] == [
            (seq, depth, pos, url, host) for seq, url, host, _, depth, pos in got
        ]


def test_field_extraction_first_match_and_strip(spark):
    row = _df(spark).select(extract_fields_udf(DEFAULT_EXTRACTION_RULES)("spans").alias("f")).collect()[0]["f"]
    assert row["title"] == "The Book"
    assert row["price"] == "£9.99"
    assert row["rating"] is None  # absent marker => null column


def test_spans_sorted_is_offset_order(spark):
    spans = _df(spark).select(spans_sorted(F.col("spans")).alias("s")).collect()[0]["s"]
    offsets = [sp["offset"] for sp in spans]
    assert offsets == sorted(offsets)
    assert [sp["kind"] for sp in spans] == ["text", "link_next", "media", "link_book", "link_cat", "text"]
