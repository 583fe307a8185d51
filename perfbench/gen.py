"""Seeded input generators for the extraction benchmark.

Every workload is a pages table in the package's input contract
``(url, warc_ts, html, text, lang)`` plus, for each valid page, the text
``run_extraction`` must produce for it. The expected text is built alongside
the page from the same random draws, never by calling the program.

- ``template_pages``: the ~700 B template corpus with the url/html shape of
  ``sources.pages.synthesize_scaled_pages_df`` (template head + document body
  + " replica <k>" + template tail). ``dup_rate=0.5`` makes every second
  replica of a document a byte-identical copy of the first, as there.
  ``invalid_rate`` mixes in rows that P1 validation must drop (null html, or
  a non-http scheme).
- ``large_pages``: tag-heavy pages of 16-48 KB, about one quarter ``<main>``
  paragraphs with punctuation and inline markup, the rest nav and aside link
  lists, ``<script>``/``<style>``, wrapper divs and a footer. Expected text is
  the paragraphs whitespace-collapsed and joined by ``\\r\\n``.

Inputs are written as parquet with fixed row-group sizes, so the same seed
gives byte-identical files.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from legal_document_ocr_spark.sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

BASE_TS_US = 1_704_067_200 * 1_000_000
SOURCES = ("news", "gov", "forum", "blog", "shop", "wiki", "law")
LANGS = ("en", "vi", "de")
WORDS = (
    "the court held that contract notice was issued under article section "
    "agency decision ministry finance report public health order review "
    "appeal filed council meeting budget plan annual schedule regional office "
    "quyết định công văn thông báo kế hoạch ủy ban nhân dân tỉnh thành phố "
    "bộ tài chính nghị định hướng dẫn thực hiện báo cáo kết quả năm Straße "
    "Gericht Behörde Bericht Haushalt über für"
).split()
PUNCT = (",", ",", ";", ":", ".", "!", "?")

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
EXPECTED_SCHEMA = pa.schema([("url", pa.string()), ("expected", pa.string())])


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    return _words(rng, rng.randint(6, 16)).capitalize() + rng.choice(PUNCT)


class Corpus:
    """Column lists for one pages table plus the expected output per url."""

    def __init__(self) -> None:
        self.url: list[str] = []
        self.warc_ts: list[int] = []
        self.html: list[bytes | None] = []
        self.text: list[str | None] = []
        self.lang: list[str] = []
        self.expected: dict[str, str] = {}

    def add(self, url, ts, html, text, lang, expected) -> None:
        self.url.append(url)
        self.warc_ts.append(ts)
        self.html.append(html)
        self.text.append(text)
        self.lang.append(lang)
        if expected is not None:
            self.expected[url] = expected

    @property
    def rows(self) -> int:
        return len(self.url)

    def valid_html_bytes(self) -> int:
        return sum(len(self.html[i]) for i in self.valid_indexes())

    def valid_indexes(self) -> list[int]:
        return [i for i, u in enumerate(self.url) if u in self.expected]

    def subset(self, indexes: list[int]) -> "Corpus":
        c = Corpus()
        for i in indexes:
            u = self.url[i]
            c.add(u, self.warc_ts[i], self.html[i], self.text[i], self.lang[i],
                  self.expected.get(u))
        return c

    def write(self, pages_path: str, expected_path: str, row_group: int) -> None:
        pages = pa.table(
            [
                pa.array(self.url, pa.string()),
                pa.array([BASE_TS_US + t for t in self.warc_ts], PAGES_SCHEMA.field(1).type),
                pa.array(self.html, pa.binary()),
                pa.array(self.text, pa.string()),
                pa.array(self.lang, pa.string()),
            ],
            schema=PAGES_SCHEMA,
        )
        pq.write_table(pages, pages_path, row_group_size=row_group)
        urls = sorted(self.expected)
        expected = pa.table(
            [pa.array(urls), pa.array([self.expected[u] for u in urls])],
            schema=EXPECTED_SCHEMA,
        )
        pq.write_table(expected, expected_path, row_group_size=max(row_group, 50_000))


def template_pages(
    seed: int, n_docs: int, *, dup_rate: float = 0.0, invalid_rate: float = 0.0
) -> Corpus:
    """Template corpus: ``n_docs`` documents x ``replicas`` rows each.

    dup 0 -> one replica per document, every payload distinct; dup 0.5 -> two
    replicas per document sharing one payload (urls stay unique).
    """
    rng = random.Random(seed)
    replicas = 2 if dup_rate else 1
    n_distinct = max(1, round(replicas * (1.0 - dup_rate)))
    c = Corpus()
    for doc_id in range(n_docs):
        source = rng.choice(SOURCES)
        lang = rng.choice(LANGS)
        # the trailing id keeps bodies of different documents distinct
        text = f"{_words(rng, rng.randint(25, 70))} no {seed}-{doc_id}"
        for rep in range(1, replicas + 1):
            url = f"https://{source}.example.com/{lang}/{doc_id}/r{rep}"
            body = f"{text} replica {(rep - 1) % n_distinct + 1}"
            html = (_TEMPLATE_HEAD + body + _TEMPLATE_TAIL).encode("utf-8")
            expected = " ".join(body.split())
            if invalid_rate and rng.random() < invalid_rate:
                if rng.random() < 0.5:
                    html = None
                else:
                    url = "ftp" + url[len("https"):]
                expected = None
            c.add(url, doc_id * 100 + rep, html, text, lang, expected)
    return c


_SCRIPT = (
    "var cfg={{id:{n},track:true,cdn:'https://cdn.example.com/{n}.js'}};"
    "function init{n}(a,b){{for(var i=0;i<a.length;i++){{b.push(a[i]*{n});}}"
    "return b;}}window.addEventListener('load',function(){{init{n}([1,2,3],[]);}});\n"
)
_STYLE = ".c{n}{{margin:0 {n}px;padding:{n}px;color:#{n:03d}}}\n"


def _link_list(rng: random.Random, tag: str, n: int) -> str:
    items = "".join(
        f'<li class="item"><a href="/{tag}/{rng.randint(0, 99999)}">{_words(rng, rng.randint(1, 3))}</a></li>'
        for _ in range(n)
    )
    return f'<{tag}><div class="menu"><ul>{items}</ul></div></{tag}>'


def _paragraph(rng: random.Random) -> tuple[str, str]:
    """One <p> with inline markup and markup whitespace -> (html, kept text)."""
    marked, plain = [], []
    for _ in range(rng.randint(3, 7)):
        s = _sentence(rng)
        plain.append(s)
        r = rng.random()
        if r < 0.2:
            first, rest = s.split(" ", 1)
            s = f"<em>{first}</em> {rest}"
        elif r < 0.3:
            s = f'<span class="x">{s}</span>'
        marked.append(s)
    return "<p>" + "\n      ".join(marked) + "</p>", " ".join(plain)


def large_page(rng: random.Random, target_bytes: int) -> tuple[str, str]:
    """A tag-heavy page of about ``target_bytes`` -> (html, expected text)."""
    main_budget = target_bytes // 4
    paras, kept, size = [], [], 0
    while size < main_budget:
        h, t = _paragraph(rng)
        paras.append(h)
        kept.append(t)
        size += len(h)
    n = rng.randint(100, 999)
    head = (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{_words(rng, 5)}</title><style>"
        + "".join(_STYLE.format(n=n + i) for i in range(20))
        + "</style></head><body>"
    )
    main = (
        '<div class="page"><div class="content"><main><article>'
        + "\n".join(paras)
        + "</article></main>"
    )
    tail = (
        '<footer><div class="legal"><a href="/privacy">Privacy</a> '
        '<a href="/terms">Terms</a> <span>© example</span></div></footer>'
        "</div></div></body></html>"
    )
    chrome_budget = target_bytes - len(head) - len(main) - len(tail)
    pieces = []
    while chrome_budget > 0:
        r = rng.random()
        if r < 0.4:
            piece = _link_list(rng, rng.choice(("nav", "aside")), rng.randint(10, 30))
        elif r < 0.7:
            piece = "<script>" + "".join(
                _SCRIPT.format(n=rng.randint(100, 999)) for _ in range(rng.randint(3, 8))
            ) + "</script>"
        else:
            piece = (
                '<div class="wrap"><div class="row"><div class="col">'
                '<a href="/share">Share</a> <a href="/print">Print</a>'
                "</div></div></div>"
            )
        pieces.append(piece)
        chrome_budget -= len(piece)
    cut = rng.randint(0, len(pieces))
    html = head + "".join(pieces[:cut]) + main + "".join(pieces[cut:]) + tail
    return html, "\r\n".join(kept)


def large_pages(seed: int, n_pages: int) -> Corpus:
    """Pages of 16-48 KB (mean ~32 KB), every payload distinct."""
    rng = random.Random(seed)
    # evenly spaced sizes in seeded order: the total, and so the work per
    # job, is the same for every seed
    sizes = [16 * 1024 + (32 * 1024 * i) // max(1, n_pages - 1) for i in range(n_pages)]
    rng.shuffle(sizes)
    c = Corpus()
    for i, size in enumerate(sizes):
        html, expected = large_page(rng, size)
        url = f"https://{rng.choice(SOURCES)}.example.org/en/page/{i}"
        c.add(url, i, html.encode("utf-8"), None, "en", expected)
    return c


def write_corpus(c: Corpus, workdir: str, name: str, row_group: int) -> tuple[str, str]:
    """Write ``<name>.parquet`` and ``<name>.expected.parquet`` under ``workdir``."""
    os.makedirs(workdir, exist_ok=True)
    pages = os.path.join(workdir, f"{name}.parquet")
    expected = os.path.join(workdir, f"{name}.expected.parquet")
    c.write(pages, expected, row_group)
    return pages, expected
