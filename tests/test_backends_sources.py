"""Image helpers (rotate90, sharpen) and the table/JSONL source interface."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ocr_text_recognition_spark.kernel import imageops


def test_rotate90_if_portrait():
    portrait = np.zeros((30, 10), np.uint8)
    portrait[0, 0] = 255  # top-left marker
    rot = imageops.rotate90_if_portrait(portrait)
    assert rot.shape == (10, 30)
    assert rot[0, -1] == 255  # CW: top-left -> top-right
    landscape = np.zeros((10, 30), np.uint8)
    assert imageops.rotate90_if_portrait(landscape) is landscape


def test_sharpen_increases_edge_contrast():
    img = np.full((20, 20), 200, np.uint8)
    img[8:12, 8:12] = 100
    sharp = imageops.sharpen(img)
    # edges get pushed apart; flat interior far from edges unchanged
    assert sharp[0, 0] == 200
    assert int(sharp[8, 8]) < 100  # dark pixel next to bright edge gets darker


def test_read_write_table_parquet_fallback(spark, tmp_path):
    from ocr_text_recognition_spark import sources

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = str(tmp_path / "t")
    sources.write_table(df, path)
    back = sources.read_table(spark, path)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    # partition overwrite is idempotent
    sources.write_table(df, path, partition_by=["id"])
    sources.write_table(df, path, partition_by=["id"])
    assert sources.read_table(spark, path).count() == 2


def test_read_documents_jsonl_gz_with_poison_lines(spark, tmp_path):
    """JSONL ingestion: explicit schema (no inference pass), gzip handled
    by the codec layer, and a malformed line surfaces as a quarantined
    corrupt-record row instead of failing the job. The parsed interleaved
    rows run straight through the extraction pipeline."""
    import gzip

    from ocr_text_recognition_spark.sources import read_documents_jsonl

    good = [
        '{"doc_id":"d1","spans":[{"kind":"text","text":"hello","media_ref":"","offset":0}]}',
        '{"doc_id":"d2","spans":[{"kind":"text","text":"world","media_ref":"","offset":0},'
        '{"kind":"media","text":"","media_ref":"m1","offset":1}]}',
    ]
    poison = '{"doc_id":"d3","spans": THIS IS NOT JSON'
    p = tmp_path / "docs.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(good + [poison]) + "\n")

    df = read_documents_jsonl(spark, str(p)).cache()
    ok = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    got = {r["doc_id"]: [(s["kind"], s["media_ref"]) for s in r["spans"]]
           for r in ok.collect()}
    assert got == {"d1": [("text", "")], "d2": [("text", ""), ("media", "m1")]}
    assert bad.count() == 1 and "NOT JSON" in bad.collect()[0]["_corrupt_record"]

    # flat variant for dedup/text-analysis corpora
    flat = tmp_path / "flat.jsonl"
    flat.write_text('{"doc_id": 1, "text": "abc"}\n{"doc_id": 2, "text": "def"}\n')
    f2 = read_documents_jsonl(spark, str(flat), interleaved=False)
    assert {(r["doc_id"], r["text"]) for r in
            f2.filter(F.col("_corrupt_record").isNull()).collect()} == {(1, "abc"), (2, "def")}
