"""Self-tests of the benchmark's own parts (no Spark session needed).

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import re

import pytest

from discogs_etl_spark.sources.xml_ingest import detect_data_type, iter_records_stream
from discogs_etl_spark.tables import TABLE_NAMES
from perfbench import dumps, workloads
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_bytes(paths: list[str]) -> dict[str, bytes]:
    out = {}
    for p in paths:
        with open(p, "rb") as f:
            out[os.path.basename(p)] = f.read()
    return out


def test_dump_generator_is_byte_identical_per_seed(tmp_path):
    a = dumps.generate(str(tmp_path / "a"), seed=11, releases_per_dump=60)
    b = dumps.generate(str(tmp_path / "b"), seed=11, releases_per_dump=60)
    c = dumps.generate(str(tmp_path / "c"), seed=12, releases_per_dump=60)
    assert _tree_bytes(a.paths) == _tree_bytes(b.paths)
    assert a.invariants == b.invariants
    assert _tree_bytes(a.paths) != _tree_bytes(c.paths)
    assert [os.path.basename(p) for p in a.paths] == [
        dumps.dump_name(d, t) for d, t in dumps.DUMP_PLAN
    ]


def test_dump_invariants_match_a_kernel_parse(tmp_path):
    ds = dumps.generate(str(tmp_path), seed=5, releases_per_dump=400)
    inv = ds.invariants
    rows: dict[str, int] = {}
    ids: dict[str, int] = {}
    month_rows: dict[str, int] = {}
    month_ids: dict[str, int] = {}
    genres = jazz = xml_bytes = 0
    for path in ds.paths:
        name = os.path.basename(path)
        et = detect_data_type(name)
        with open(path, "rb") as f:
            gz = f.read()
        xml_bytes += len(gzip.decompress(gz))
        for r in iter_records_stream(io.BytesIO(gz), et):
            rows[et] = rows.get(et, 0) + 1
            ids[et] = ids.get(et, 0) + r["id"]
            if et == "release":
                month = name.split("_")[1][4:6]
                month_rows[month] = month_rows.get(month, 0) + 1
                month_ids[month] = month_ids.get(month, 0) + r["id"]
                genres += len(r["genres"])
                jazz += "Jazz" in r["genres"] and len(r["genres"]) > 1
    assert rows == inv.rows
    assert ids == inv.id_sum
    assert month_rows == inv.release_rows_by_month
    assert month_ids == inv.release_id_sum_by_month
    assert genres == inv.genre_count
    assert jazz == inv.jazz_multi_genre
    assert xml_bytes == inv.xml_bytes
    # releases are the largest dumps, and the dirt the kernel repairs is there
    sizes = {os.path.basename(p): os.path.getsize(p) for p in ds.paths}
    assert max(sizes, key=sizes.get).endswith("_releases.xml.gz")
    text = b"".join(gzip.decompress(_tree_bytes([p]).popitem()[1]) for p in ds.paths)
    assert b"\x07" in text or b"\x0b" in text or b"\x1b" in text or b"\x01" in text
    assert b"AT&T" in text or b"R&B" in text or b" & " in text
    assert b"<release><title>" in text  # attribute-less husk


def test_fixtures_are_unchanged_and_hold_every_table_the_queries_read():
    with open(os.path.join(workloads.FIXTURES, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name, digest in sums.items():
        with open(os.path.join(workloads.FIXTURES, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name
    present = {n[: -len(".parquet")] for n in sums}
    specs = workloads.all_specs()
    for q in workloads.LLM_DATAPREP:
        for t in set(TABLE_NAMES) - present:
            assert not re.search(rf"\b{t}\b", specs[q].oracle, re.I), (q, t)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_code_reports():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("traced", [False, True])
def test_every_benchmark_metric_is_printed(workload, traced):
    bench = _benchmark_json()
    names = [m["name"] for m in bench["per_layer" if traced else "end_to_end"]]
    unused = set(workloads.UNUSED_LAYERS[workload]) if traced else set()
    assert unused <= set(names)
    measured = {n: 1.5 for n in names if n not in unused}
    ops = [workloads.Op("q", 1.0, True, True)]
    line = workloads.result_line(workload, ops, measured, traced)
    printed = json.loads(json.dumps(line))
    assert set(printed) == {"correct", "attempted", "failed", "metrics"}
    assert printed["correct"] is True
    assert list(printed["metrics"]) == names
    for name, m in printed["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"]
        assert m["value"] == (0.0 if name in unused else 1.5)


@pytest.mark.parametrize("traced", [False, True])
def test_a_metric_left_unmeasured_fails_the_run(traced):
    names = workloads.PER_LAYER if traced else workloads.END_TO_END
    measured = {n: 1.5 for n in names}
    forgotten = next(n for n in names if n not in workloads.UNUSED_LAYERS["llm_dataprep"])
    del measured[forgotten]
    ops = [workloads.Op("q", 1.0, True, True)]
    line = workloads.result_line("llm_dataprep", ops, measured, traced)
    assert line["correct"] is False
    assert line["metrics"][forgotten]["value"] is None


def test_tracer_off_times_nested_spans_without_spark():
    tr = Tracer("run-1", enabled=False)
    with tr.span("outer"):
        with tr.span("inner", "group"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert inner.run_id == outer.run_id == "run-1"
    assert inner.work is None and outer.seconds >= inner.seconds >= 0
