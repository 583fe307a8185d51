"""Self-tests of the benchmark (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from legal_document_ocr_spark.kernels import extract_page
from perfbench import gen, layers, run, sqlmetrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GENERATORS = {
    "template": lambda seed: gen.template_pages(seed, 300),
    "crawl": lambda seed: gen.template_pages(seed, 300, dup_rate=0.5, invalid_rate=0.05),
    "large": lambda seed: gen.large_pages(seed, 12),
}


def _bytes(corpus, path) -> bytes:
    pages, expected = gen.write_corpus(corpus, str(path), "pages", row_group=50)
    with open(pages, "rb") as f, open(expected, "rb") as g:
        return f.read() + g.read()


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(kind, tmp_path):
    make = GENERATORS[kind]
    a = _bytes(make(7), tmp_path / "a")
    b = _bytes(make(7), tmp_path / "b")
    c = _bytes(make(8), tmp_path / "c")
    assert a == b
    assert a != c


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_expected_text_equals_kernel_output(kind):
    corpus = GENERATORS[kind](3)
    valid = corpus.valid_indexes()
    for i in random.Random(0).sample(valid, min(len(valid), 40)):
        got = extract_page(corpus.html[i])["extracted_text"]
        assert got == corpus.expected[corpus.url[i]], corpus.url[i]


def test_crawl_corpus_shape():
    c = GENERATORS["crawl"](5)
    invalid = [i for i in range(c.rows) if c.url[i] not in c.expected]
    assert invalid, "the crawl corpus must carry rows that P1 drops"
    for i in invalid:
        assert c.html[i] is None or not c.url[i].startswith("http")
    payloads = [c.html[i] for i in c.valid_indexes()]
    assert len(set(payloads)) < len(payloads)  # dup 0.5 collapses work


def test_large_pages_are_tag_heavy():
    c = GENERATORS["large"](5)
    for i in range(c.rows):
        html, text = c.html[i], c.expected[c.url[i]]
        assert 12 * 1024 < len(html) < 56 * 1024
        assert 0.1 < len(text.encode()) / len(html) < 0.4


def test_large_pages_total_size_does_not_depend_on_seed():
    # job time depends on total html size; seeds must only change content
    sizes = [gen.large_pages(seed, 12).valid_html_bytes() for seed in (1, 2, 3)]
    assert max(sizes) - min(sizes) < 0.01 * min(sizes)
    assert sizes[0] != sizes[1]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS


@pytest.mark.parametrize(
    "text, total, med, mx",
    [
        ("20,000", 20000, None, None),
        ("0 ms", 0.0, None, None),
        ("3.0 MiB", 3 * 1024**2, None, None),
        (
            "total (min, med, max (stageId: taskId))\n"
            "2.0 s (474 ms, 507 ms, 531 ms (stage 60.0: task 71))",
            2.0, 0.507, 0.531,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "15.8 MiB (3.9 MiB, 4.0 MiB, 4.0 MiB (stage 60.0: task 70))",
            15.8 * 1024**2, 4.0 * 1024**2, 4.0 * 1024**2,
        ),
    ],
)
def test_sql_metric_values_parse(text, total, med, mx):
    v = sqlmetrics.parse_value(text)
    assert v.total == pytest.approx(total)
    assert v.med == (None if med is None else pytest.approx(med))
    assert v.max == (None if mx is None else pytest.approx(mx))
