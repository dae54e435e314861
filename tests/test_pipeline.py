"""Backfill orchestration end-to-end (SURVEY.md §3.1): multiple dumps →
latest-per-month selection → concurrent ingest → partitioned lake +
checksum audit."""

from __future__ import annotations

import gzip
import hashlib

from discogs_etl_spark.pipeline import (
    audit_table,
    backfill,
    backfill_from_urls,
    land_dumps,
)
from discogs_etl_spark.lake import read_lake
from discogs_etl_spark.sources.manifest import parse_checksum_manifest
from tests.test_xml_ingest import ARTIST_XML, MASTER_XML, RELEASE_XML


def test_backfill_multi_dump(spark, tmp_path):
    # two months of releases (the older 03-01 file must lose to 03-15 within
    # its month), plus an artists dump and a masters dump (the schema whose
    # data `year` collides with the partition — the backfill must route it
    # through write_lake's leaf branch) — mixed types in one backfill
    d1 = tmp_path / "discogs_20190301_releases.xml.gz"
    d2 = tmp_path / "discogs_20190315_releases.xml.gz"
    d3 = tmp_path / "discogs_20190401_releases.xml.gz"
    d4 = tmp_path / "discogs_20190301_artists.xml.gz"
    d5 = tmp_path / "discogs_20190301_masters.xml.gz"
    for p in (d1, d2, d3):
        p.write_bytes(gzip.compress(RELEASE_XML))
    d4.write_bytes(gzip.compress(ARTIST_XML))
    d5.write_bytes(gzip.compress(MASTER_XML))

    # hash the written bytes: gzip stamps the current second into its
    # header, so a second compress can differ from the file on disk
    sha = hashlib.sha256(d2.read_bytes()).hexdigest()
    manifest = "\n".join(
        [
            f"{sha} *{d2.name}",
            f"{'0' * 64} *{d3.name}",  # deliberately wrong
        ]
    )
    checksums = parse_checksum_manifest(spark, manifest)

    root = str(tmp_path / "lake")
    results = backfill(
        spark, [str(p) for p in (d1, d2, d3, d4, d5)], root, checksums=checksums
    )

    # latest-per-(month, type): 03-01 releases dropped in favor of 03-15
    names = {r.filename for r in results}
    assert names == {d2.name, d3.name, d4.name, d5.name}

    audit = {r["filename"]: r for r in audit_table(spark, results).collect()}
    assert audit[d2.name]["checksum_ok"] is True
    assert audit[d3.name]["checksum_ok"] is False
    assert audit[d4.name]["checksum_ok"] is None  # not in the manifest

    releases = read_lake(spark, root, "release")
    assert releases.count() == 4  # 2 records x 2 months
    assert {r["month"] for r in releases.select("month").distinct().collect()} == {
        "03",
        "04",
    }
    artists = read_lake(spark, root, "artist")
    assert artists.count() > 0
    # master rode the leaf-write branch: files keep the PARSED data year
    blind = spark.read.parquet(root + "/masters/year=2019/month=03")
    assert {r["year"] for r in blind.select("year").collect()} == {1985, 0}


def test_backfill_from_urls_end_to_end(spark, tmp_path):
    """The reference's one-command story (run.py:20-41): URL → landing dir
    (streamed GET + sha256, atomic rename) → parse → lake + audit row.
    file:// stands in for https:// — same urllib streaming path."""
    src = tmp_path / "remote"
    src.mkdir()
    dump = src / "discogs_20190301_releases.xml.gz"
    payload = gzip.compress(RELEASE_XML)
    dump.write_bytes(payload)
    url = dump.as_uri()

    landing = str(tmp_path / "landing")
    root = str(tmp_path / "lake")

    sha = hashlib.sha256(payload).hexdigest()
    checksums = parse_checksum_manifest(spark, f"{sha} *{dump.name}")

    results = backfill_from_urls(spark, [url], landing, root, checksums=checksums)
    assert len(results) == 1
    audit = audit_table(spark, results).collect()[0]
    assert audit["checksum_ok"] is True and audit["sha256"] == sha
    assert read_lake(spark, root, "release").count() == 2

    # landing is incremental: second run re-hashes but does not re-fetch
    landed = land_dumps([url], landing)
    assert landed[0].sha256 == sha and landed[0].n_bytes == len(payload)
    # no partial files left behind
    assert not list((tmp_path / "landing").glob("*.part"))


class _RangeHandler:
    """Minimal Range-capable HTTP handler factory (http.server's
    SimpleHTTPRequestHandler ignores Range, so the reference's ranged-GET
    path needs a purpose-built test server)."""

    def __new__(cls, payload: bytes, *, flaky_first: bool = False):
        import http.server

        state = {"fail_next": flaky_first}

        class H(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_HEAD(self):
                self.send_response(200)
                self.send_header("Accept-Ranges", "bytes")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()

            def do_GET(self):
                rng = self.headers.get("Range")
                if rng is None:
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                    return
                if state["fail_next"]:
                    state["fail_next"] = False
                    self.send_response(503)
                    self.end_headers()
                    return
                start, end = rng.removeprefix("bytes=").split("-")
                s, e = int(start), int(end)
                body = payload[s : e + 1]
                self.send_response(206)
                self.send_header("Content-Range", f"bytes {s}-{e}/{len(payload)}")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        return H


def _serve(handler):
    import http.server
    import threading

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_ranged_download_parallel_assembly(tmp_path):
    """Ranged-parallel landing (reference io.py:153-382): the file is
    fetched as multiple byte ranges, written at offsets, and the
    assembled bytes hash identically to the source — including a retried
    503 on one range (exp-backoff path)."""
    import hashlib as _hl
    import random

    from discogs_etl_spark.pipeline import ranged_download

    rnd = random.Random(42)
    payload = bytes(rnd.getrandbits(8) for _ in range(5 * (1 << 20) + 12345))
    srv = _serve(_RangeHandler(payload, flaky_first=True))
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/discogs_20190301_releases.xml.gz"
        dest = str(tmp_path / "dump.bin")
        # chunk_size floor is 1 MB → 6 ranges over this payload
        landed = ranged_download(url, dest, chunk_size=1 << 20, max_workers=3)
        assert landed.n_bytes == len(payload)
        assert landed.sha256 == _hl.sha256(payload).hexdigest()
        with open(dest, "rb") as f:
            assert f.read() == payload
        assert not list(tmp_path.glob("*.part"))
    finally:
        srv.shutdown()


def test_ranged_download_falls_back_sequential(tmp_path):
    """A server without Accept-Ranges (or a small file) must land via the
    sequential streamed path — same bytes, same hash."""
    import hashlib as _hl
    import http.server

    from discogs_etl_spark.pipeline import ranged_download

    payload = b"tiny-dump" * 1000

    class NoRanges(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_HEAD(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = _serve(NoRanges)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/d.gz"
        dest = str(tmp_path / "d.gz")
        landed = ranged_download(url, dest)
        assert landed.sha256 == _hl.sha256(payload).hexdigest()
    finally:
        srv.shutdown()
