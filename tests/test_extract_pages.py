"""Pages generation + extraction: the byte-identity invariant
(BASELINE.json input_hint) and the coordinate miner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import MAX_LAT, MAX_LON, MIN_LAT, MIN_LON
from trajlib_spark.operators import extract
from trajlib_spark.sources import pages as pages_src


def test_extract_text_byte_identity(spark):
    pg = pages_src.generate_pages(spark, 300)
    ext = extract.with_extracted_text(pg)
    assert ext.where(F.col("extracted_text") != F.col("text")).count() == 0


def test_extract_handles_entities_and_nested_tags():
    html = b'<html><body><p>a &amp; b <b>bold</b> &lt;tag&gt; &amp;lt;</p><p>second</p></body></html>'
    assert extract.extract_text_py(html) == "a & b bold <tag> &lt;\nsecond"


def test_extract_ignores_non_p_content():
    html = b"<html><head><title>nope</title></head><body><div>nope</div><p>yes</p></body></html>"
    assert extract.extract_text_py(html) == "yes"


def test_miner_finds_mentions_in_order():
    txt = "at 41.150000, -8.600000 then 40.000000, -8.100000 end 1.5, 2.5"
    got = extract.mine_coordinates_py(txt)
    assert got == [(41.15, -8.6), (40.0, -8.1)]  # 6-decimal mentions only


def test_jvm_miner_matches_canonical_miner(spark):
    """pages_to_points' regexp_extract_all miner finds exactly the
    mentions mine_coordinates_py finds, in the same order, on every page
    shape: null text, no mentions, negative coordinates, 5-decimal decoys
    and a 4-digit integer part."""
    import datetime as dt

    texts = [
        None,
        "no coordinates here at all",
        "start 41.150000, -8.600000 then -33.868820, -151.209296 end",
        "decoys 41.15000, -8.60000 and 41.1500, -8.6000 only",
        "wide 1234.567890, 12.345678 and -1234.567890, -12.345678",
        "mixed 41.15000, -8.600000 x 40.000001, 8.100000, 7.000000, 1.000000",
        "tight 0.000000, 0.000000,1.000000, 2.000000 -0.000001, -0.000002",
    ]
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pg = spark.createDataFrame(
        [(f"u{k}", ts, b"", t, "en") for k, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = sorted(
        (r.url, r.pos, r.lat, r.lon)
        for r in extract.pages_to_points(pg, bbox_filter=False).collect()
    )
    want = sorted(
        (f"u{k}", pos, la, lo)
        for k, t in enumerate(texts)
        for pos, (la, lo) in enumerate(extract.mine_coordinates_py(t or ""))
    )
    assert got == want
    assert len(want) >= 8  # the fixture really exercises the miner


def test_pages_deterministic(spark):
    a = pages_src.generate_pages(spark, 100).orderBy("url").collect()
    b = pages_src.generate_pages(spark, 100).orderBy("url").collect()
    assert a == b


def test_pages_to_points_bbox_and_cadence(spark):
    pg = pages_src.generate_pages(spark, 400)
    pts = extract.pages_to_points(pg)
    rows = pts.collect()
    assert len(rows) > 0
    for r in rows:
        assert MIN_LON < r.lon < MAX_LON and MIN_LAT < r.lat < MAX_LAT
    # 15-s cadence: consecutive positions 15000 ms apart
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    multi = next(v for v in by_url.values() if len(v) >= 2)
    multi.sort(key=lambda r: r.pos)
    assert multi[1].ts_ms - multi[0].ts_ms == 15000


def test_decoys_filtered(spark):
    pg = pages_src.generate_pages(spark, 500)
    raw = extract.pages_to_points(pg, bbox_filter=False)
    filt = extract.pages_to_points(pg, bbox_filter=True)
    assert raw.count() > filt.count()  # decoy pages exist and are dropped


def test_skew_hotspot(spark):
    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.operators import cells

    pg = pages_src.generate_pages(spark, 2000, skew=True)
    pts = cells.with_cell(extract.pages_to_points(pg), PORTO_GRID)
    top = (
        pts.groupBy("cell_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    total = pts.count()
    assert top["count"] / total > 0.02  # hot cell clearly skewed


def test_generate_pages_partition_layout_invariant(spark):
    """num_partitions pre-splits the id range before generation (the
    no-shuffle path the big bench tables use); the TABLE must be
    identical to the default-layout generation — row content is a pure
    function of the id."""
    from trajlib_spark.sources import pages as pages_src

    a = pages_src.generate_pages(spark, 500, skew=True)
    b = pages_src.generate_pages(spark, 500, skew=True, num_partitions=7)
    ra = sorted((r.url, r.warc_ts, r.html, r.text, r.lang) for r in a.collect())
    rb = sorted((r.url, r.warc_ts, r.html, r.text, r.lang) for r in b.collect())
    assert ra == rb
