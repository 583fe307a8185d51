"""Page-table sources: the engine's input contract and its test corpora.

Input contract (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Two deterministic generators, no external data:

- ``synthesize_pages_df(spark, sf_dir)`` — derives a pages table in-plan from
  the driver-provided ``documents.parquet`` (TESTDATA.md): every document body
  is wrapped in a fixed HTML template (nav/ads boilerplate + one <main>
  paragraph + footer). Because the derivation is pure Catalyst expressions, a
  DuckDB oracle can derive the SAME table from the same parquet and state the
  expected extraction output in ANSI SQL. Used by __spark_entry__ and bench.

- ``fixture_rows(seed)`` — the FIXTURES.md §3 case families (F1-F13) as plain
  Python rows for pytest: boilerplate-heavy pages, tables, multi-part
  Vietnamese legal documents, duplicates, empty pages, skewed domains,
  non-UTF8 bytes. Seeded and content-addressed — byte-stable across runs.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..scale.salt import ensure_parallelism

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# Fixed template used for the synthesized (oracle-checkable) corpus. The nav,
# ads and footer blocks are guaranteed-dropped (boilerplate tag / pure-link /
# short), the single <main><p> is guaranteed-kept, so
# extracted_text == whitespace-collapsed trim(text) — an invariant a DuckDB
# oracle can express in SQL.
_TEMPLATE_HEAD = (
    '<html><head><meta charset="utf-8"><title>Synthetic page</title>'
    "<script>var t=1;</script></head><body>"
    '<nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav>'
    '<div><a href="/promo">Big promo sale click here now</a></div>'
    "<main><p>"
)
_TEMPLATE_TAIL = (
    "</p></main>"
    '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
    "</body></html>"
)


def synthesize_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the pages table from documents.parquet — pure Catalyst, no UDF.

    url/warc_ts/html are all deterministic functions of (doc_id, source, lang,
    text); html is the fixed template around the document body, UTF-8 encoded.
    """
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_TEMPLATE_HEAD), F.col("text"), F.lit(_TEMPLATE_TAIL)),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_scaled_pages_df(
    spark: SparkSession, sf_dir: str, replicas: int, dup_rate: float = 0.0
) -> DataFrame:
    """The template corpus replicated ``replicas``x.

    ``dup_rate=0`` gives fully DISTINCT payloads (each replica appends its
    index to the text) — dedup's worst case: the sha2 stage shuffles every
    payload and collapses nothing. ``dup_rate=0.5`` makes every second
    replica a byte-identical copy of an earlier one (urls stay unique) —
    the Common-Crawl-like profile the dedup-before-compute design targets
    (SURVEY.md §2.4 J2). Used by the scaling benchmarks; both profiles are
    reported in BASELINE.md.
    """
    # spread BEFORE the explode/encode: the driver parquet is one file = one
    # partition, and Catalyst evaluates the synthesis expressions below any
    # later repartition — without this the corpus is built on a single core
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    n_distinct = max(1, round(replicas * (1.0 - dup_rate)))
    rep = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.explode(F.sequence(F.lit(1), F.lit(replicas))).alias("rep"),
    ).withColumn("payload_rep", (F.pmod(F.col("rep") - 1, F.lit(n_distinct)) + 1))
    return rep.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("/r"),
            F.col("rep").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 100 + F.col("rep")
        ).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit(_TEMPLATE_HEAD),
                F.col("text"),
                F.lit(" replica "),
                F.col("payload_rep").cast("string"),
                F.lit(_TEMPLATE_TAIL),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_table_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose <main> holds one paragraph + a known 2x3 <table>.

    Cell (r, c) text is ``c{doc_id}x{r}{c}`` — the cell-grid extraction
    (SURVEY.md K5-K7) and table-shape aggregate (A6) become by-construction
    oracle-checkable: num_rows=2, num_cols=3, cells in (row, col) order.
    """
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    did = F.col("doc_id").cast("string")

    def cell(r: int, c: int):
        return F.concat(
            F.lit("<td>c"), did, F.lit(f"x{r}{c}"), F.lit("</td>")
        )

    table = F.concat(
        F.lit("<table>"),
        F.lit("<tr>"), cell(0, 0), cell(0, 1), cell(0, 2), F.lit("</tr>"),
        F.lit("<tr>"), cell(1, 0), cell(1, 1), cell(1, 2), F.lit("</tr>"),
        F.lit("</table>"),
    )
    body = F.concat(F.col("text"), F.lit("</p>"), table, F.lit("<p>"))
    return docs.select(
        F.concat(
            F.lit("https://tables-"),
            F.col("source"),
            F.lit(".example.com/"),
            did,
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_TEMPLATE_HEAD), body, F.lit(_TEMPLATE_TAIL)), "UTF-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# Vietnamese legal-document corpus (by-construction field/merge oracle)
# ---------------------------------------------------------------------------

VN_DOC_TYPES = ("CÔNG VĂN", "TỜ TRÌNH", "QUYẾT ĐỊNH", "THÔNG BÁO")

# Page line layout (joined with <br> inside one <main><p>; the block collector
# turns <br> into \r\n, so extracted_text is exactly these lines \r\n-joined).
# Every field the K9-K15 regex batteries produce on this layout is a closed-
# form function of (doc_id, page_no, text) — see __spark_entry__ oracles:
#   L1  {TYPE}                                    (doc_id % 4 cycle)
#   L2  Số: {doc_id}/QD-BTC
#   L3  Hà Nội, ngày {d} tháng {m} năm 2024       (d=doc_id%28+1, m=doc_id%12+1)
#   L4  Kính gửi: Đơn vị {doc_id % 7}
#   L5  NGUYỄN VĂN AN                             (signer line)
#   L6  Điện thoại: 0243                          (digit barrier for the
#                                                  signer regex's letter run)
#   L7  {text} trang {page_no}
#   L8  V/v kế hoạch {doc_id}                     (last line -> subject regex
#                                                  stops at end of text)


def synthesize_vn_pages_df(
    spark: SparkSession, sf_dir: str, pages_per_doc: int = 1
) -> DataFrame:
    """Derive a Vietnamese legal-document pages table from documents.parquet.

    Pure Catalyst (no UDF): a DuckDB oracle derives the identical table from
    the same parquet and can therefore state the expected output of the field
    battery and the merge fold in closed form. Pages of one document share
    ``Số:`` so the merge fold groups them; urls sort in page order.
    """
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pages = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.explode(F.sequence(F.lit(1), F.lit(pages_per_doc))).alias("page_no"),
    )
    did = F.col("doc_id").cast("string")
    dtype = F.element_at(
        F.array(*[F.lit(t) for t in VN_DOC_TYPES]),
        (F.pmod(F.col("doc_id"), 4) + 1).cast("int"),
    )
    d = (F.pmod(F.col("doc_id"), 28) + 1).cast("string")
    m = (F.pmod(F.col("doc_id"), 12) + 1).cast("string")
    k = F.pmod(F.col("doc_id"), 7).cast("string")
    lines = [
        dtype,
        F.concat(F.lit("Số: "), did, F.lit("/QD-BTC")),
        F.concat(F.lit("Hà Nội, ngày "), d, F.lit(" tháng "), m, F.lit(" năm 2024")),
        F.concat(F.lit("Kính gửi: Đơn vị "), k),
        F.lit("NGUYỄN VĂN AN"),
        F.lit("Điện thoại: 0243"),
        F.concat(F.col("text"), F.lit(" trang "), F.col("page_no").cast("string")),
        F.concat(F.lit("V/v kế hoạch "), did),
    ]
    body = F.concat_ws("<br>", *lines)
    return pages.select(
        F.concat(
            F.lit("https://legal-"),
            F.col("source"),
            F.lit(".example.vn/doc"),
            did,
            F.lit("/p"),
            F.col("page_no").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 10 + F.col("page_no")
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_TEMPLATE_HEAD), body, F.lit(_TEMPLATE_TAIL)), "UTF-8"
        ).alias("html"),
        F.col("text"),
        F.lit("vi").alias("lang"),
    )


def synthesize_vn_split_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two pages per source_doc engineered so the merge fold must SPLIT them.

    Versus ``synthesize_vn_pages_df``: document number, type and date vary
    per page (so number-equality fails and field-match voting scores 0), and
    every page ends with '.' so the reference's word-overlap continuation
    check sees an empty last sentence and cannot fire
    (document_merger_service.py:39-46). The fold therefore yields exactly two
    logical documents per source_doc — a closed-form oracle for the group
    BOUNDARY, complementing the all-merge corpus.
    """
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pages = docs.select(
        "doc_id",
        "text",
        "source",
        F.explode(F.sequence(F.lit(1), F.lit(2))).alias("page_no"),
    )
    did = F.col("doc_id").cast("string")
    num = (F.col("doc_id") * 10 + F.col("page_no")).cast("string")
    dtype = F.element_at(
        F.array(*[F.lit(t) for t in VN_DOC_TYPES]),
        (F.pmod(F.col("doc_id") + F.col("page_no"), 4) + 1).cast("int"),
    )
    d = (F.pmod(F.col("doc_id") + F.col("page_no"), 28) + 1).cast("string")
    m = (F.pmod(F.col("doc_id") + F.col("page_no"), 12) + 1).cast("string")
    k = F.pmod(F.col("doc_id"), 7).cast("string")
    lines = [
        dtype,
        F.concat(F.lit("Số: "), num, F.lit("/QD-BTC")),
        F.concat(F.lit("Hà Nội, ngày "), d, F.lit(" tháng "), m, F.lit(" năm 2024")),
        F.concat(F.lit("Kính gửi: Đơn vị "), k),
        F.lit("NGUYỄN VĂN AN"),
        F.lit("Điện thoại: 0243"),
        F.concat(F.col("text"), F.lit(" trang "), F.col("page_no").cast("string")),
        F.concat(F.lit("V/v kế hoạch "), did, F.lit(".")),
    ]
    body = F.concat_ws("<br>", *lines)
    return pages.select(
        F.concat(
            F.lit("https://split-"),
            F.col("source"),
            F.lit(".example.vn/doc"),
            did,
            F.lit("/p"),
            F.col("page_no").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 10 + F.col("page_no")
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_TEMPLATE_HEAD), body, F.lit(_TEMPLATE_TAIL)), "UTF-8"
        ).alias("html"),
        F.col("text"),
        F.lit("vi").alias("lang"),
    )


# ---------------------------------------------------------------------------
# pytest fixture corpus (FIXTURES.md §3 families)
# ---------------------------------------------------------------------------

_WORDS = (
    "spark shuffle partition column vector batch stream window merge join "
    "filter aggregate broadcast salt skew lineage checkpoint resume arrow "
    "pandas codegen catalyst parquet iceberg crawl extract boilerplate density"
).split()

_VN_DOC = (
    "BỘ TÀI CHÍNH<br>"
    "CỘNG HÒA XÃ HỘI CHỦ NGHĨA VIỆT NAM<br>"
    "Độc lập - Tự do - Hạnh phúc<br>"
    "Số: {num}<br>"
    "Hà Nội, ngày {d} tháng {m} năm {y}<br>"
    "Kính gửi: {recipient}<br>"
    "V/v {subject}<br>"
    "{body}<br>"
    "Nơi nhận: Như trên<br>"
    "K/T BỘ TRƯỞNG<br>"
    "NGUYỄN VĂN {sig}"
)


def _para(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _page_html(
    paragraphs: list[str],
    *,
    heavy_boiler: bool = False,
    table: list[list[str]] | None = None,
    title: str = "Fixture page",
) -> str:
    nav = (
        '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">News</a></nav>'
    )
    ads = '<div><a href="/x">Click here for amazing deals right now</a></div>'
    if heavy_boiler:
        ads = ads * 8 + '<aside><a href="/y">More links</a> trending topics list</aside>'
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    tbl = ""
    if table is not None:
        rows = "".join(
            "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in table
        )
        tbl = f"<table>{rows}</table>"
    footer = '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a> © 2024</footer>'
    return (
        f'<html><head><meta charset="utf-8"><title>{title}</title></head>'
        f"<body>{nav}{ads}<main>{body}{tbl}</main>{footer}</body></html>"
    )


def fixture_rows(seed: int = 42, scale: int = 1) -> list[dict]:
    """Deterministic fixture corpus covering FIXTURES.md families F1-F13."""
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows: list[dict] = []

    def add(url: str, html: bytes, text: str | None = None, lang: str = "en") -> None:
        rows.append(
            {
                "url": url,
                "warc_ts": t0 + timedelta(seconds=len(rows)),
                "html": html,
                "text": text,
                "lang": lang,
            }
        )

    # F1 plain content pages
    for i in range(20 * scale):
        paras = [_para(rng, rng.randint(12, 30)) for _ in range(rng.randint(2, 4))]
        add(
            f"https://content{i % 7}.example.com/f1/{i}",
            _page_html(paras).encode("utf-8"),
        )

    # F2 boilerplate-heavy pages
    for i in range(10 * scale):
        paras = [_para(rng, rng.randint(12, 20))]
        add(
            f"https://boiler.example.com/f2/{i}",
            _page_html(paras, heavy_boiler=True).encode("utf-8"),
        )

    # F3 regular tables (>= 2x2)
    for i in range(10 * scale):
        nr, nc = rng.randint(2, 4), rng.randint(2, 4)
        table = [[f"cell{r}x{c}" for c in range(nc)] for r in range(nr)]
        paras = [_para(rng, 15)]
        add(
            f"https://tables.example.com/f3/{i}",
            _page_html(paras, table=table).encode("utf-8"),
        )

    # F4 degenerate tables (empty / single cell)
    for i in range(5 * scale):
        add(
            f"https://tables.example.com/f4/{i}",
            _page_html([_para(rng, 15)], table=[[""]]).encode("utf-8"),
        )

    # F5 multi-part Vietnamese legal documents (consecutive related pages,
    # same document number => the merge fold must group them)
    for g in range(6 * scale):
        num = f"{100 + g}/QĐ-BTC"
        for p in range(3 + g % 3):
            body = _para(rng, 25) + f" trang {p + 1} cua van ban so {100 + g}"
            vn = _VN_DOC.format(
                num=num,
                d=rng.randint(1, 28),
                m=rng.randint(1, 12),
                y=2024,
                recipient=f"Đơn vị {g}",
                subject=f"triển khai kế hoạch {g}",
                body=body,
                sig="AN",
            )
            add(
                f"https://legal.example.vn/f5/doc{g}/page{p}",
                _page_html([vn], title=f"VB {num} trang {p + 1}").encode("utf-8"),
                lang="vi",
            )

    # F6 adjacent unrelated pages (must NOT merge): adjacent pages differ in
    # document_type (4-cycle) and issue_date, so field-match voting scores
    # only 1 (shared national letterhead) < MIN_FIELD_MATCHES; the terminal
    # period leaves an empty "last sentence" so the reference's word-overlap
    # continuation check does not fire (merger :39-46); numbers all differ.
    _DTYPES = ("CÔNG VĂN", "TỜ TRÌNH", "QUYẾT ĐỊNH", "THÔNG BÁO")
    for i in range(10 * scale):
        vn = _DTYPES[i % 4] + "<br>" + _VN_DOC.format(
            num=f"{500 + i}/TB-UBND",
            d=(i % 28) + 1,
            m=(i % 12) + 1,
            y=2023,
            recipient=f"Phòng {i}",
            subject=f"hồ sơ riêng biệt {i} {_para(rng, 4)}",
            body=_para(rng, 20) + f" noi dung doc lap {i}",
            sig=rng.choice(["BA", "CƯỜNG", "DŨNG"]),
        ) + "."
        add(
            f"https://legal.example.vn/f6/{i}",
            _page_html([vn]).encode("utf-8"),
            lang="vi",
        )

    # F7 empty pages (no content blocks at all)
    for i in range(5 * scale):
        add(
            f"https://empty.example.com/f7/{i}",
            _page_html([]).encode("utf-8"),
        )

    # F8 exact duplicates: 5 distinct payloads x 4 urls each
    for d in range(5):
        html = _page_html(
            [_para(random.Random(1000 + d), 30)], title=f"dup {d}"
        ).encode("utf-8")
        for u in range(4 * scale):
            add(f"https://mirror{u}.example.com/f8/{d}", html)

    # F10 oversize / invalid inputs (pipeline must filter, not crash)
    add("ftp://bad.scheme.example.com/f10/0", b"<p>not http</p>")
    add(
        "https://big.example.com/f10/1",
        b"<p>" + b"x" * (10 * 1024 * 1024 + 16) + b"</p>",
    )

    # F11 skewed domain: one host dominates
    for i in range(40 * scale):
        paras = [_para(rng, rng.randint(10, 60))]
        add(
            f"https://megasite.example.com/f11/{i}",
            _page_html(paras).encode("utf-8"),
        )

    # F13 non-UTF8 declared-charset bytes
    for i in range(5 * scale):
        latin = _page_html(
            [f"café résumé naïve page {i} with enough words to keep the block"],
            title="latin",
        )
        raw = latin.replace('charset="utf-8"', 'charset="iso-8859-1"').encode(
            "iso-8859-1"
        )
        add(f"https://latin.example.com/f13/{i}", raw)

    return rows


def fixture_pages_df(spark: SparkSession, seed: int = 42, scale: int = 1) -> DataFrame:
    return spark.createDataFrame(fixture_rows(seed, scale), PAGES_SCHEMA)
