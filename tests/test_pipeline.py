"""End-to-end Spark pipeline tests — the byte-identity gate (north rule).

The oracle is the SAME kernel code run as plain pandas over the fixture rows
(SURVEY.md §5.1): per url, Spark's extracted_text must equal the oracle's
bytes exactly; spans/tables/fields must match structurally.
"""

import re

import pandas as pd
import pyspark.sql.functions as F
import pytest

from legal_document_ocr_spark import stages
from legal_document_ocr_spark.config import MAX_HTML_BYTES
from legal_document_ocr_spark.kernels import extract_fields, extract_page
from legal_document_ocr_spark.merge import merge_documents
from legal_document_ocr_spark.plans.inspect import executed_plan
from legal_document_ocr_spark.sources import fixture_pages_df, fixture_rows
from legal_document_ocr_spark.stages import run_extraction, valid_pages


@pytest.fixture(scope="module")
def corpus():
    return fixture_rows(seed=42)


@pytest.fixture(scope="module")
def oracle(corpus):
    """Pure-pandas golden results keyed by url (valid pages only)."""
    golden = {}
    for row in corpus:
        if not row["url"].startswith(("http://", "https://")):
            continue
        if len(row["html"]) > MAX_HTML_BYTES:
            continue
        page = extract_page(row["html"])
        page["fields"] = extract_fields(page["extracted_text"])
        golden[row["url"]] = page
    return golden


@pytest.fixture(scope="module")
def spark_result(spark, corpus):
    df = run_extraction(fixture_pages_df(spark)).cache()
    rows = {r["url"]: r.asDict(recursive=True) for r in df.collect()}
    return rows


class TestByteIdentity:
    def test_every_valid_url_present_exactly_once(self, spark_result, oracle):
        assert set(spark_result) == set(oracle)

    def test_extracted_text_byte_identical(self, spark_result, oracle):
        mismatches = [
            url
            for url, g in oracle.items()
            if spark_result[url]["extracted_text"].encode("utf-8")
            != g["extracted_text"].encode("utf-8")
        ]
        assert mismatches == []

    def test_spans_identical(self, spark_result, oracle):
        for url, g in oracle.items():
            got = spark_result[url]["spans"]
            assert got == g["spans"], url

    def test_tables_identical(self, spark_result, oracle):
        for url, g in oracle.items():
            got = spark_result[url]["tables"]
            assert got == g["tables"], url

    def test_fields_identical(self, spark_result, oracle):
        for url, g in oracle.items():
            assert spark_result[url]["fields"] == g["fields"], url

    def test_lineage_present(self, spark_result):
        for r in spark_result.values():
            assert r["lineage"]["stage"] == "extract"
            assert r["lineage"]["partition_id"] >= 0


class TestShortDocument:
    """A body below MIN_BLOCK_CHARS keeps no span: extracted_text='' and
    spans=[] — the guard _SQL_EXTRACT_STATS mirrors (ADVICE round 1)."""

    def test_template_short_body_drops_all_blocks(self, spark):
        from datetime import datetime

        from legal_document_ocr_spark.sources.pages import (
            PAGES_SCHEMA,
            _TEMPLATE_HEAD,
            _TEMPLATE_TAIL,
        )

        short = "tiny body"  # 9 chars < MIN_BLOCK_CHARS=25
        html = (_TEMPLATE_HEAD + short + _TEMPLATE_TAIL).encode("utf-8")
        page = extract_page(html)
        assert page["extracted_text"] == ""
        assert page["spans"] == []

        df = spark.createDataFrame(
            [("https://short.example.com/1", datetime(2024, 1, 1), html, short, "en")],
            PAGES_SCHEMA,
        )
        row = (
            run_extraction(df, dedup=False, with_fields=False)
            .select("extracted_text", F.size("spans").alias("n_spans"))
            .collect()[0]
        )
        assert row["extracted_text"] == "" and row["n_spans"] == 0


class TestValidation:
    def test_bad_scheme_filtered(self, spark, corpus):
        df = valid_pages(fixture_pages_df(spark))
        bad = df.filter(~F.col("url").startswith("http")).count()
        assert bad == 0

    def test_oversize_filtered(self, spark):
        df = valid_pages(fixture_pages_df(spark))
        assert df.filter(F.col("url").contains("big.example.com")).count() == 0


class TestDedupEquivalence:
    """F8 — dedup-before-compute must not change results (J2 rewrite)."""

    def test_dedup_matches_direct(self, spark):
        pages = fixture_pages_df(spark)
        with_dedup = (
            run_extraction(pages, dedup=True, with_fields=False)
            .select("url", "extracted_text")
            .collect()
        )
        without = (
            run_extraction(pages, dedup=False, with_fields=False)
            .select("url", "extracted_text")
            .collect()
        )
        assert sorted(map(tuple, with_dedup)) == sorted(map(tuple, without))

    def test_duplicate_urls_same_text(self, spark_result):
        dup_texts = {
            url: r["extracted_text"]
            for url, r in spark_result.items()
            if "/f8/" in url
        }
        by_payload = {}
        for url, text in dup_texts.items():
            by_payload.setdefault(url.rsplit("/", 1)[-1], set()).add(text)
        for key, texts in by_payload.items():
            assert len(texts) == 1, key


class TestAdjacentMemo:
    """The UDFs reuse their previous result while the input repeats, so
    with copies of a payload sorted together each kernel runs once per
    distinct payload. No Spark session: the UDF bodies are driven directly."""

    PAGE_A = "<html><body><p>" + "Điều 1. Phạm vi điều chỉnh. " * 4 + "</p></body></html>"
    PAGE_B = "<html><body><main><p>" + "Second page text. " * 4 + "</p></main></body></html>"

    @pytest.mark.parametrize(
        "name, udf, a, b",
        [
            ("extract_page", stages.extract_page_udf, PAGE_A.encode(), PAGE_B.encode()),
            (
                "extract_fields",
                stages.extract_fields_udf,
                "Số: 12/2020/NĐ-CP ngày 01 tháng 02 năm 2020",
                "QUYẾT ĐỊNH về việc ban hành quy chế",
            ),
        ],
    )
    def test_kernel_runs_once_per_adjacent_run(self, monkeypatch, name, udf, a, b):
        # adjacent copies, a run split across the batch boundary, None twice
        # and a repeat of ``a`` that is not adjacent to it: four runs. Every
        # copy is a new object, as Arrow hands them over: equal, not identical
        def c(v):
            return v[:1] + v[1:]

        batches = [[a, c(a), b], [c(b), None, None, c(a)]]
        real, calls = getattr(stages, name), []

        def counted(value):
            calls.append(value)
            return real(value)

        monkeypatch.setattr(stages, name, counted)
        frames = list(udf.func(pd.Series(batch, dtype=object) for batch in batches))
        assert [len(f) for f in frames] == [len(batch) for batch in batches]
        got = pd.concat(frames, ignore_index=True).to_dict("records")
        assert got == [real(v) for batch in batches for v in batch]
        assert calls == [a, b, None, a]


class TestFlagshipPlan:
    def test_one_content_key_exchange_no_join_no_aggregate(self, spark):
        """Dedup is one hash exchange on the sha2 content key; both UDFs run
        in the task after it, with no aggregate and no join-back."""
        plan = executed_plan(
            run_extraction(fixture_pages_df(spark), dedup=True, with_fields=True)
        )
        lines = plan.splitlines()
        exchanges = [ln for ln in lines if "Exchange " in ln]
        assert len(exchanges) == 1, plan
        key = re.search(r"Exchange hashpartitioning\((__content_key#\d+),", exchanges[0])
        assert key, plan
        assert re.search(rf"sha2\(html#\d+, 256\) AS {key.group(1)}\b", plan), plan
        assert "Join" not in plan and "Aggregate" not in plan, plan
        udfs = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
        assert len(udfs) == 2, plan
        assert not any("Exchange" in ln for ln in lines[udfs[0] : udfs[1]]), plan


class TestOutputContract:
    @pytest.mark.parametrize("with_fields", [True, False])
    @pytest.mark.parametrize("salt", [True, False])
    @pytest.mark.parametrize("dedup", [True, False])
    def test_columns(self, spark, dedup, salt, with_fields):
        """Every option combination yields the same columns, in order."""
        out = run_extraction(
            fixture_pages_df(spark), dedup=dedup, salt=salt, with_fields=with_fields
        )
        page = ["extracted_text", "spans", "tables", "n_blocks", "n_kept"]
        fields = ["fields"] if with_fields else []
        assert out.columns == ["url", "warc_ts", "lang", *page, *fields, "lineage"]


class TestSaltInvariance:
    """F11 — output must not depend on partitioning (SURVEY.md §5.4)."""

    def test_salted_equals_unsalted(self, spark):
        # dedup ignores ``salt``, so both sides run without it
        pages = fixture_pages_df(spark)
        plain = run_extraction(pages, dedup=False, salt=False, with_fields=False)
        salted = run_extraction(pages, dedup=False, salt=True, with_fields=False)
        assert salted.columns == plain.columns

        def rows(df):
            return sorted(map(tuple, df.select("url", "extracted_text").collect()))

        assert rows(plain) == rows(salted)

    def test_row_order_invariance(self, spark):
        pages = fixture_pages_df(spark)
        fwd = (
            run_extraction(pages, with_fields=False)
            .select("url", "extracted_text")
            .collect()
        )
        rev = (
            run_extraction(
                pages.orderBy(F.col("url").desc()), with_fields=False
            )
            .select("url", "extracted_text")
            .collect()
        )
        assert sorted(map(tuple, fwd)) == sorted(map(tuple, rev))


class TestMergeStage:
    def test_f5_groups_merge_f6_do_not(self, spark):
        pages = fixture_pages_df(spark)
        ex = run_extraction(pages)
        merged = merge_documents(
            ex.filter(F.col("url").contains("legal.example.vn"))
        ).cache()
        counts = {
            r["source_doc"]: r["n"]
            for r in merged.groupBy("source_doc")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for g in range(6):
            assert counts[f"https://legal.example.vn/f5/doc{g}"] == 1
        assert counts["https://legal.example.vn/f6"] == 10

    def test_merged_number_and_pages(self, spark):
        pages = fixture_pages_df(spark)
        ex = run_extraction(pages)
        merged = merge_documents(
            ex.filter(F.col("url").contains("/f5/doc0/"))
        ).collect()
        assert len(merged) == 1
        assert merged[0]["document_number"] == "100/QĐ-BTC"
        assert merged[0]["page_numbers"] == [1, 2, 3]
