"""ETL-fidelity tests (SURVEY.md §5.2-2): synthetic Discogs-shaped XML
exercising every parse coercion of the reference (§1.2), parsed by the
Spark kernel and compared against pinned golden expectations."""

from __future__ import annotations

import gzip

import pytest

from discogs_etl_spark.sources.xml_ingest import (
    detect_data_type,
    ingest_xml,
    ingest_xml_bytes,
    iter_records,
)

RELEASE_XML = b"""<?xml version="1.0" encoding="UTF-8"?>
<releases>
  <release id="1" status="Accepted">
    <title>First\x07Album</title>
    <country>US</country>
    <released>1999-00-00</released>
    <notes>line one
line two</notes>
    <images>
      <image height="600" width="600" type="primary" uri="u1" uri150="u2"/>
      <image type="secondary"/>
    </images>
    <artists><artist><name>Alpha</name></artist><artist><name>Beta</name></artist></artists>
    <labels><label name="LabelX" catno="LX-1"/><label name="LabelY"/></labels>
    <formats>
      <format name="Vinyl" qty="2"><descriptions><description>12\"</description><description>LP</description></descriptions></format>
      <format name="CD"/>
    </formats>
    <genres><genre>Electronic</genre><genre>Jazz</genre></genres>
    <styles><style>House</style></styles>
  </release>
  <release>
    <title>No Attrs</title>
  </release>
</releases>
"""

MASTER_XML = b"""<masters>
  <master id="10">
    <main_release>100</main_release>
    <artists><artist><id>7</id><name>Gamma</name><anv/><join>&amp;</join><role></role><tracks/></artist></artists>
    <genres><genre>Rock</genre></genres>
    <styles/>
    <year>1985</year>
    <title>M</title>
    <data_quality>Correct</data_quality>
    <videos>
      <video duration="300" embed="true" src="http://v"><title>V1</title><description>D1</description></video>
      <video embed="false" src="http://w"/>
      <video><title>V3</title></video>
    </videos>
  </master>
  <master id="11"><title>Empty</title></master>
</masters>
"""

# dirty label dump: stray <documents> wrappers, no XML declaration,
# nested <sublabels><label> that must NOT become its own record
LABEL_XML = b"""<documents><labels>
  <label>
    <id>5</id>
    <name>Lbl</name>
    <contactinfo>a@b.c
second line</contactinfo>
    <images><image width="100" height="50" type="logo" uri="x" uri150="y"/></images>
    <urls><url>http://l</url><url/></urls>
    <sublabels><label>Sub1</label><label>Sub2</label></sublabels>
  </label>
</labels></documents>
"""

ARTIST_XML = b"""<artists>
  <artist>
    <id>42</id>
    <name>Zeta</name>
    <realname>Z</realname>
    <namevariations><name>Z1</name><name>Z2</name></namevariations>
    <aliases><name>A1</name></aliases>
    <groups/>
    <members><name>M1</name></members>
    <urls><url>http://z</url></urls>
  </artist>
  <artist><name>NoId</name></artist>
</artists>
"""


def test_release_coercions(spark):
    df = ingest_xml_bytes(spark, RELEASE_XML, "release")
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1, 0}  # missing id attr -> 0 (parser.py:102)
    r = rows[1].asDict(recursive=True)
    assert r["status"] == "Accepted"
    # invalid control char scrubbed to space, then ws-collapsed (streaming path)
    assert r["title"] == "First Album"
    assert r["released"] == "1999-00-00"  # partial date stays a string
    # streaming path collapses newlines (utils.py:7-37 behavior)
    assert r["notes"] == "line one line two"
    # image defaults: missing dims -> 0, missing uris -> None
    assert r["images"][0] == {
        "height": 600, "width": 600, "type": "primary", "uri": "u1", "uri150": "u2"
    }
    assert r["images"][1] == {
        "height": 0, "width": 0, "type": "secondary", "uri": None, "uri150": None
    }
    assert r["artists"] == ["Alpha", "Beta"]  # names only (schema.py:66)
    assert r["labels"] == [
        {"name": "LabelX", "catno": "LX-1"},
        {"name": "LabelY", "catno": None},
    ]
    # qty is a STRING defaulting to '1' (parser.py:137)
    assert r["formats"][0]["qty"] == "2"
    assert r["formats"][0]["descriptions"] == ['12"', "LP"]
    assert r["formats"][1] == {"name": "CD", "qty": "1", "descriptions": []}
    assert r["genres"] == ["Electronic", "Jazz"]
    # empty collections are [], never null
    empty = rows[0].asDict(recursive=True)
    assert empty["images"] == [] and empty["genres"] == [] and empty["formats"] == []
    assert empty["status"] is None and empty["country"] is None


def test_master_coercions(spark):
    df = ingest_xml_bytes(spark, MASTER_XML, "master")
    rows = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    m = rows[10]
    assert m["main_release"] == 100 and m["year"] == 1985
    a = m["artists"][0]
    assert a["id"] == 7 and a["name"] == "Gamma"
    # embed: only literal 'true' is True (parser.py:93)
    assert [v["embed"] for v in m["videos"]] == [True, False, False]
    assert [v["duration"] for v in m["videos"]] == [300, 0, 0]
    assert m["videos"][2]["src"] is None and m["videos"][2]["title"] == "V3"
    e = rows[11]
    assert e["main_release"] == 0 and e["year"] == 0 and e["artists"] == []


def test_label_dirty_wrapper_and_sublabels(spark):
    df = ingest_xml_bytes(spark, LABEL_XML, "label")
    rows = df.collect()
    # nested <sublabels><label> must not be treated as label records
    assert len(rows) == 1
    lb = rows[0].asDict(recursive=True)
    assert lb["id"] == 5
    # label path preserves newlines (process.py:262-266 semantics)
    assert lb["contactinfo"] == "a@b.c\nsecond line"
    # label images are width-first in the schema
    assert lb["images"][0] == {
        "width": 100, "height": 50, "type": "logo", "uri": "x", "uri150": "y"
    }
    # null texts kept in lists (parser.py:50)
    assert lb["urls"] == ["http://l", None]
    assert lb["sublabels"] == ["Sub1", "Sub2"]


def test_artist_coercions(spark):
    df = ingest_xml_bytes(spark, ARTIST_XML, "artist")
    rows = {r["name"]: r.asDict(recursive=True) for r in df.collect()}
    z = rows["Zeta"]
    assert z["id"] == 42
    assert z["namevariations"] == ["Z1", "Z2"]
    assert z["aliases"] == ["A1"] and z["groups"] == [] and z["members"] == ["M1"]
    assert rows["NoId"]["id"] == 0 and rows["NoId"]["realname"] is None


def test_gzip_and_distributed_ingest(spark, tmp_path):
    # two gzipped dump files -> one task each -> one unioned DataFrame
    p1 = tmp_path / "discogs_20190301_releases.xml.gz"
    p1.write_bytes(gzip.compress(RELEASE_XML))
    p2 = tmp_path / "discogs_20190401_releases.xml.gz"
    p2.write_bytes(gzip.compress(RELEASE_XML))
    df = ingest_xml(spark, [str(p1), str(p2)])
    assert df.count() == 4
    assert df.schema == ingest_xml_bytes(spark, RELEASE_XML, "release").schema


def test_truncated_gzip_is_lenient(spark):
    data = gzip.compress(RELEASE_XML)[:-8]  # chop CRC/size trailer
    recs = list(iter_records(data, "release"))
    assert len(recs) == 2  # still parses (process.py:47-64 semantics)


def test_detect_data_type():
    assert detect_data_type("discogs_20190301_artists.xml.gz") == "artist"
    assert detect_data_type("http://x/discogs_20080309_labels.xml.gz") == "label"
    with pytest.raises(ValueError):
        detect_data_type("nothing.xml")


FIXTURES = {"release": RELEASE_XML, "master": MASTER_XML, "label": LABEL_XML, "artist": ARTIST_XML}


@pytest.mark.parametrize("data_type", sorted(FIXTURES))
def test_file_ingest_matches_bytes_kernel(spark, tmp_path, data_type):
    """The backfill's path — a gzipped dump file stream-parsed in chunks on
    an executor — yields exactly the rows of the whole-document kernel on
    every entity's dirty fixture."""
    raw = FIXTURES[data_type]
    dump = tmp_path / f"discogs_20190301_{data_type}s.xml.gz"
    dump.write_bytes(gzip.compress(raw))

    via_file = ingest_xml(spark, str(dump))
    via_bytes = ingest_xml_bytes(spark, raw, data_type)
    assert via_file.schema == via_bytes.schema
    f = sorted((r.asDict(recursive=True) for r in via_file.collect()), key=lambda d: d["id"])
    b = sorted((r.asDict(recursive=True) for r in via_bytes.collect()), key=lambda d: d["id"])
    assert f == b
