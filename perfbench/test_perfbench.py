"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import check, compare, gen, ops, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = gen.Sizes(crawl_docs=30, crawl_replicas=2, format_docs=4,
                  curate_docs=40)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _tables(inputs: gen.Inputs) -> list:
    path = inputs.pages_path or os.path.join(inputs.docs_dir,
                                             "documents.parquet")
    return pq.read_table(path).to_pylist()


@pytest.mark.parametrize("workload", ops.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"), SMALL)
    b = gen.generate(workload, 5, str(tmp_path / "b"), SMALL)
    c = gen.generate(workload, 6, str(tmp_path / "c"), SMALL)
    assert _tables(a) == _tables(b)
    assert _tables(a) != _tables(c)
    assert a.n_docs == b.n_docs > 0


def test_crawl_replica_urls_are_distinct(tmp_path):
    inputs = gen.generate("crawl_mixed", 3, str(tmp_path), SMALL)
    urls = [r["url"] for r in _tables(inputs)]
    assert len(set(urls)) == len(urls) == 30 * 2


@pytest.mark.parametrize("workload", ("crawl_mixed", "formats_heavy"))
def test_output_check_catches_one_byte_change(tmp_path, workload):
    inputs = gen.generate(workload, 3, str(tmp_path), SMALL)
    expected = check.expected_pages(inputs)
    rows = check.expected_rows(inputs)
    assert len(rows) > len(inputs.docs) and check.page_digest(rows) == expected
    i = next(k for k, r in enumerate(rows) if r[2])
    url, page_no, md = rows[i]
    flipped = md[:-1] + chr(ord(md[-1]) ^ 1)
    changed = rows[:i] + [(url, page_no, flipped)] + rows[i + 1:]
    assert check.page_digest(changed) != expected
    assert check.page_digest(rows[:-1]) != expected


def test_output_check_catches_a_replica_written_twice(tmp_path):
    inputs = gen.generate("crawl_mixed", 3, str(tmp_path), SMALL)
    rows = check.expected_rows(inputs)
    a, b = next(iter(inputs.urls["taxonomy"].values()))
    # replica a written twice, replica b never: same count, same pages
    twice = [(a if u == b else u, p, md) for u, p, md in rows]
    assert len(twice) == len(rows)
    assert check.page_digest(twice) != check.expected_pages(inputs)


def test_curate_check_catches_changed_value(tmp_path):
    inputs = gen.generate("curate_dedup", 3, str(tmp_path), SMALL)
    docs = inputs.docs["documents"]
    rows = check._oracle("curation", docs)
    assert check.result_digest(rows) == check.result_digest(list(rows))
    changed = [dict(r) for r in rows]
    key = next(iter(changed[0]))
    changed[0][key] += 1
    assert check.result_digest(changed) != check.result_digest(rows)


def test_metric_names_equal_benchmark_json():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(ops.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.PER_LAYER
    res = ops.OpResult(2.0, 5.0, 300, 200, 0, ok=True,
                       detail={"peak_rss_mb": 100.0})
    printed = run.end_to_end([res, res], 10.0)
    assert list(printed) == list(run.END_TO_END)
    assert all(v > 0 for v, _ in printed.values())


def test_compare_verdicts():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.0, 10.1, 9.9]
    faster = [v * 0.8 for v in base]
    assert compare.verdict(base, faster, "lower", 0.1)["verdict"] == "better"
    assert compare.verdict(base, [v * 1.3 for v in base], "lower",
                           0.1)["verdict"] == "worse"
    assert compare.verdict(base, list(base), "lower", 0.1)["verdict"] == "same"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, list(reversed(noisy)), "lower",
                           0.1)["verdict"] == "unresolved"


def test_span_self_time():
    tracer = trace.Tracer()
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer = tracer.total("outer")
    assert tracer.self_time("outer") == pytest.approx(
        outer - tracer.total("inner"))
    assert [s["parent"] for s in tracer.spans] == [None, 0]
