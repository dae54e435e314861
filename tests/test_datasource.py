"""Python DataSource surface (Spark 4 DataSource API): the XML kernel as
``spark.read.format("discogs_xml")`` — batch equivalence vs ingest_xml,
schema inference from the dump filename, and incremental stream reads
over a landing directory."""

from __future__ import annotations

import gzip

import pytest

from discogs_etl_spark.sources.datasource import register
from discogs_etl_spark.sources.xml_ingest import ingest_xml
from tests.test_xml_ingest import FIXTURES, MASTER_XML, RELEASE_XML


@pytest.fixture(scope="module")
def ds(spark):
    register(spark)
    return spark


def test_batch_read_matches_ingest_xml(ds, tmp_path):
    dump = tmp_path / "discogs_20240101_releases.xml.gz"
    dump.write_bytes(gzip.compress(RELEASE_XML))

    via_ds = (
        ds.read.format("discogs_xml").option("path", str(dump)).load()
    )
    via_kernel = ingest_xml(ds, str(dump), "release")

    assert via_ds.schema == via_kernel.schema  # inferred from filename
    a = sorted(via_ds.collect(), key=lambda r: r["id"])
    b = sorted(via_kernel.collect(), key=lambda r: r["id"])
    assert a == b


@pytest.mark.parametrize("data_type", ["artist", "label", "master"])
def test_batch_read_matches_ingest_xml_every_entity(ds, tmp_path, data_type):
    """The other entities through the DataSource's Arrow batches: same
    schema and rows as ``ingest_xml`` on the dirty fixtures (label
    newlines, sublabel lists, video embed flags, nested artist structs)."""
    dump = tmp_path / f"discogs_20240101_{data_type}s.xml.gz"
    dump.write_bytes(gzip.compress(FIXTURES[data_type]))

    via_ds = ds.read.format("discogs_xml").option("path", str(dump)).load()
    via_kernel = ingest_xml(ds, str(dump), data_type)

    assert via_ds.schema == via_kernel.schema
    a = sorted(via_ds.collect(), key=lambda r: r["id"])
    b = sorted(via_kernel.collect(), key=lambda r: r["id"])
    assert a == b


def test_batch_read_directory_multi_file(ds, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "discogs_20240101_masters.xml.gz").write_bytes(gzip.compress(MASTER_XML))
    (d / "discogs_20240201_masters.xml.gz").write_bytes(gzip.compress(MASTER_XML))

    df = ds.read.format("discogs_xml").option("path", str(d)).load()
    # one partition per file, rows from both dumps
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 4  # 2 masters per fixture x 2 files


def test_stream_read_incremental_arrivals(ds, tmp_path):
    """New files landing between runs are the ONLY thing the next run
    processes — offsets are the set of files seen."""
    d = tmp_path / "landing"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    (d / "discogs_20240101_releases.xml.gz").write_bytes(gzip.compress(RELEASE_XML))

    def drain():
        stream = (
            ds.readStream.format("discogs_xml")
            .option("path", str(d))
            .option("type", "release")
            .load()
            .select("id", "title")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert ds.read.parquet(out).count() == 2  # fixture has 2 releases

    # second dump lands; same checkpoint → only the new file is read
    (d / "discogs_20240201_releases.xml.gz").write_bytes(gzip.compress(RELEASE_XML))
    drain()
    assert ds.read.parquet(out).count() == 4
