"""Query registry: every implemented operator as (Spark callable, DuckDB oracle).

This is the correctness surface consumed by ``__spark_entry__.py``: for each
name, ``SPARK`` holds a ``(spark, sf_dir) -> DataFrame`` callable and
``ORACLE`` the equivalent ANSI SQL DuckDB runs over the same parquet views
(tables ``region nation customer supplier part orders lineitem events
documents embeddings``). The driver compares row-count + schema +
order-insensitive value-hash, with columns sorted by name — so both sides
alias every computed column identically.

Oracle-parity rules used throughout (see operator docstrings for detail):
- extraction oracles are BY CONSTRUCTION: the synthesized pages corpus
  (sources/pages.py) is a pure-Catalyst function of documents.parquet, so the
  oracle states the closed-form expected output rather than re-implementing
  the HTML parser in SQL;
- hashes are md5/sha2 over explicit strings (identical hex in both engines);
- money/int aggregates go through DECIMAL (exact, order-independent), doubles
  are per-row expressions with a pinned evaluation order, rounded to 6 dp;
- DuckDB float literals are DECIMAL — every oracle literal in a double
  expression carries an explicit ``::double``;
- computed ints are cast to bigint on both sides (DuckDB len()/count() are
  BIGINT; Spark size()/row_number() are int).

Each ``registry/*.py`` family module ends with a ``QUERIES`` table,
``name -> (Spark callable, oracle SQL or None)``; this module merges the
tables in the frozen driver order of ``registry/order.py``. An entry whose
oracle is ``None`` (only ``compression_ratio``, a zlib ratio) is absent from
``ORACLE`` and gets the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .registry import (
    curation, dedup_olap, extraction, filters_sketches, markup, mining,
    multimodal_stream, quality_eval, relational_web, textana, tpch_media,
    webarchive,
)
from .registry.order import ORDER


def _merge(families) -> dict[str, tuple]:
    table: dict[str, tuple] = {}
    for family in families:
        for name, entry in family.QUERIES.items():
            if name in table:
                raise ValueError(f"query {name!r} is in two family QUERIES tables")
            table[name] = entry
    return table


_TABLE = _merge((
    curation, dedup_olap, extraction, filters_sketches, markup, mining,
    multimodal_stream, quality_eval, relational_web, textana, tpch_media,
    webarchive,
))
if len(set(ORDER)) != len(ORDER) or set(ORDER) != set(_TABLE):
    raise ValueError(
        "registry/order.py does not list each QUERIES entry exactly once; "
        "regenerate it with: python scripts/registry_rotation.py"
    )

SPARK: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: _TABLE[n][0] for n in ORDER
}
ORACLE: dict[str, str] = {n: _TABLE[n][1] for n in ORDER if _TABLE[n][1] is not None}
