"""Tests for the JSONL corpus source and sink (round trip)."""


def test_jsonl_write_read_roundtrip(spark, sf_dir, tmp_path):
    """write_jsonl -> read_jsonl (pinned schema) preserves the documents
    table byte-for-byte, including unicode text; gzip compression and the
    partitions bound both work."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.sources.jsonl import read_jsonl, write_jsonl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs.repartition(4), out, partitions=2)
    import glob

    # coalesce bounds the file count from above (it cannot split partitions)
    files = glob.glob(f"{out}/part-*")
    assert 1 <= len(files) <= 2
    back = read_jsonl(
        spark, out,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
        with_row_id=False,
    )
    a = sorted(tuple(r) for r in docs.select(sorted(docs.columns)).collect())
    b = sorted(tuple(r) for r in back.select(sorted(docs.columns)).collect())
    assert a == b
    gz = str(tmp_path / "docs_jsonl_gz")
    write_jsonl(docs.limit(10), gz, compression="gzip")
    assert glob.glob(f"{gz}/part-*.gz")
    assert read_jsonl(spark, gz, with_row_id=False).count() == 10
