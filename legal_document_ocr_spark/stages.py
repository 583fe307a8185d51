"""Vectorized Arrow/pandas UDF stages + end-to-end pipeline assembly.

The rebuild of the reference's per-page pipeline (app/services/ocr_service.py:
107-148) as Spark stages (SURVEY.md §3.1 "Spark trace"):

    scan -> native filters (P1) -> [resume anti-join] -> content-key
    exchange + sort -> [UDF: decode/normalize K1 + layout-detect K2/K5-K7 +
    text-extract K4/A2] -> [UDF: field battery K9-K13] -> lineage -> sink

Design decisions:
- both heavy stages are scalar ITERATOR pandas UDFs (Iterator[Series] ->
  Iterator[DataFrame]): Arrow-batched transfer, per-worker init amortized
  across batches — the analogue of the reference's process-pool init
  amortization (ocr_process_service.py:13-29), without the pool;
- dedup is co-location, not aggregation: one hash exchange on
  ``sha2(html, 256)`` plus a sort on the same key puts every copy of a
  payload next to the others in one task, and each UDF reuses its previous
  result while its input repeats. The kernels run once per distinct payload
  with no aggregate, no join-back and no second scan, and both UDFs run
  pipelined in the task that follows the exchange;
- the field battery is ``kernels.extract_fields`` (Python ``re``) inside
  the UDF, and it is the only one: byte-identical parity with the reference
  requires Python-regex semantics for Vietnamese case folding (SURVEY.md §7
  risk 1), which Catalyst ``regexp_extract`` cannot be shown to match;
- cheap predicates stay native and BEFORE the UDF stages — Catalyst will not
  push filters through a pandas UDF (SURVEY.md §4), so plan order is the
  pushdown;
- the html binary column is dropped immediately after extraction: column
  pruning of the dominant byte-weight column is the single biggest I/O win.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import ALLOWED_SCHEMES, FIELD_NAMES, MAX_HTML_BYTES
from .kernels import extract_fields, extract_page
from .scale.salt import SKEW_KEYS, ensure_parallelism, salted_repartition

SPAN_TYPE = StructType(
    [
        StructField("x", IntegerType()),
        StructField("y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("kind", StringType()),
        # P8 analogue: per-span extraction confidence (kernels.extract_page)
        StructField("score", DoubleType()),
    ]
)
TABLE_CELL_TYPE = StructType(
    [
        StructField("row", IntegerType()),
        StructField("col", IntegerType()),
        StructField("bbox", ArrayType(IntegerType())),
        StructField("text", StringType()),
    ]
)
PAGE_RESULT_TYPE = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("tables", ArrayType(TABLE_CELL_TYPE)),
        StructField("n_blocks", IntegerType()),
        StructField("n_kept", IntegerType()),
    ]
)
FIELDS_TYPE = StructType([StructField(f, StringType()) for f in FIELD_NAMES])

_UNSET = object()  # "no previous input": None is a real input value
_KEY = "__content_key"


def _adjacent_memo(
    kernel: Callable[[Any], dict], batches: Iterator[pd.Series], columns: list[str]
) -> Iterator[pd.DataFrame]:
    """``kernel`` per value, reusing the previous result while the value
    repeats (also across batches of one task). The full value is compared,
    never a hash of it, so a reused result is always the kernel's own."""
    last, result = _UNSET, None
    for series in batches:
        rows = []
        for value in series:
            if last is _UNSET or value != last:
                last, result = value, kernel(value)
            rows.append(result)
        yield pd.DataFrame(rows, columns=columns)


@pandas_udf(PAGE_RESULT_TYPE)
def extract_page_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Stage 1+2+3: decode -> segment -> density filter -> reading-order join."""
    yield from _adjacent_memo(extract_page, batches, PAGE_RESULT_TYPE.fieldNames())


@pandas_udf(FIELDS_TYPE)
def extract_fields_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Stage 4: field post-processing battery (K9-K13), Python-re pinned."""
    yield from _adjacent_memo(extract_fields, batches, list(FIELD_NAMES))


def valid_pages(pages: DataFrame) -> DataFrame:
    """P1 input validation — native, before any UDF (validation.py:10-11)."""
    scheme_pred = F.col("url").rlike(
        "^(" + "|".join(s.rstrip("://") for s in ALLOWED_SCHEMES) + ")://"
    )
    return pages.filter(
        scheme_pred
        & F.col("html").isNotNull()
        & (F.length("html") <= F.lit(MAX_HTML_BYTES))
    )


def run_extraction(
    pages: DataFrame,
    *,
    dedup: bool = True,
    salt: bool = False,
    with_fields: bool = True,
    checkpoint=None,
) -> DataFrame:
    """The flagship pipeline: pages -> (url, warc_ts, lang, extracted_text,
    spans, tables, n_blocks, n_kept, [fields], lineage).

    ``dedup`` hash-repartitions on ``sha2(html, 256)`` and sorts each
    partition on that key, so the UDFs' adjacent-duplicate memo runs each
    kernel once per distinct payload. That exchange is the pipeline's only
    one and AQE coalesces it; ``salt`` is not applied (the content hash
    already spreads hot domains). Without dedup, ``salt`` repartitions on
    (domain, size_bucket, salt) and narrow unsalted inputs are spread to the
    default parallelism. ``checkpoint`` (a CheckpointStore) skips urls it
    has already committed; ``with_fields`` adds the field battery column.
    """
    # the input `text` column is not part of the output contract and would
    # otherwise ride through every exchange (dedup, merge shuffle)
    df = valid_pages(pages).drop("text")
    if checkpoint is not None:
        df = checkpoint.filter_pending(df)
    if dedup:
        df = (
            df.withColumn(_KEY, F.sha2(F.col("html"), 256))
            .repartition(_KEY)
            .sortWithinPartitions(_KEY)
            .drop(_KEY)
        )
    elif salt:
        df = salted_repartition(df).drop(*SKEW_KEYS)
    else:
        # narrow inputs (single-file local scans) would serialize the UDF
        # stages on one core; no-op when the scan is already parallel
        df = ensure_parallelism(df)

    # drop the byte-dominant binary column as early as possible
    extracted = (
        df.withColumn("_page", extract_page_udf(F.col("html")))
        .drop("html")
        .select("*", "_page.*")
        .drop("_page")
    )
    if with_fields:
        extracted = extracted.withColumn(
            "fields", extract_fields_udf(F.col("extracted_text"))
        )
    return extracted.withColumn(
        "lineage",
        F.struct(
            F.spark_partition_id().alias("partition_id"),
            F.lit("extract").alias("stage"),
            F.current_timestamp().alias("processed_at"),
        ),
    )
