"""Pure-Python per-row kernels — the single source of truth for extraction.

These functions are the rebuild's analogue of the reference's per-page service
kernels (SURVEY.md §2.3, K1-K16). They are plain Python/pandas-callable, with
NO Spark imports, so that:

1. the Spark pipeline wraps them in vectorized Arrow/pandas UDF stages
   (``stages.py``) — batch-at-a-time, never per-row Python UDFs; and
2. the pytest oracle calls them directly on fixture rows, guaranteeing the
   north-rule invariant "byte-identical extracted text per url" by
   construction (same bytes in, same code, same bytes out).

Reference kernel mapping (file:line into /root/reference/):
- decode_html          <- K1 preprocess (image_preprocessing_service.py:124-168):
                          charset-normalize raw page bytes instead of CLAHE/
                          threshold on pixels.
- parse_blocks         <- K2 region segmentation (region_segmentation_service.py:9-32)
                          + K5-K7 table detection (table_detector_service.py:15-110):
                          DOM block segmentation with text/link-density features
                          replaces contour detection; <table> cell grid replaces
                          ruled-line intersection clustering.
- keep_block           <- P3 region filter (region_segmentation_service.py:19-27,
                          config.json:19-21): min-chars + link-density band
                          replaces min-area + aspect-ratio band.
- extract_page         <- per-page pipeline (ocr_service.py:107-148): reading-order
                          join of kept blocks (A2, ocr_service.py:127).
- clean_text           <- K8 (information_extraction_service.py:15-22), EXACT copy
                          of semantics: \\n -> \\r\\n, per-line strip, outer strip.
- extract_fields       <- K9-K13 (information_extraction_service.py:24-59,90-98),
                          same patterns (config.json:60-106), same first-match-wins.
- normalize_match_text <- K16 (document_merger_service.py:81-87).
- is_same_document     <- J3/U1/U2 (document_merger_service.py:26-63).
- is_empty_page        <- P4 (document_merger_service.py:65-79).
- merge_pages          <- A7 fold (document_merger_service.py:175-221) +
                          K15 doc-level re-extraction (:101-173).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Any

from .config import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    DROP_TAGS,
    EXTRACTION_PATTERNS,
    FIELD_NAMES,
    HEADING_TAGS,
    MATCHING_FIELDS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    MIN_FIELD_MATCHES,
    MIN_HEADING_CHARS,
    MIN_MATCHING_WORDS,
    PATTERN_GATES,
)

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE)

# intra-block hard line break sentinel: emitted for <br> and for newlines
# inside <pre>; collapsible markup whitespace never produces it.
_BR = "\x00"

# ---------------------------------------------------------------------------
# K1 — byte decode / normalize
# ---------------------------------------------------------------------------


def decode_html(raw: bytes | None) -> str:
    """Decode raw page bytes to text: UTF-8, declared charset, lossy UTF-8.

    Deterministic fallback chain (analogue of the reference's PDF-vs-image
    dispatch + text-to-PDF fallback, image_preprocessing_service.py:26-122).
    """
    if raw is None:
        return ""
    if isinstance(raw, str):  # already decoded (pages synthesized in-plan)
        return raw
    raw = bytes(raw)
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        try:
            return raw.decode(m.group(1).decode("ascii").lower())
        except (UnicodeDecodeError, LookupError):
            pass
    return raw.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# K2/K5-K7 — DOM block segmentation + table cell grid
# ---------------------------------------------------------------------------


class _Block:
    __slots__ = ("tag", "parts", "link_chars", "boiler", "index")

    def __init__(self, tag: str, boiler: bool, index: int) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0
        self.boiler = boiler
        self.index = index

    @property
    def text(self) -> str:
        # whitespace canonicalization (K1 normalize analogue): collapse runs
        # of markup whitespace to single spaces per line; hard breaks (<br>,
        # <pre> newlines) become \r\n — already in clean_text's normal form,
        # so clean_text (K8) is idempotent on block output.
        segments = "".join(self.parts).split(_BR)
        lines = [" ".join(seg.split()) for seg in segments]
        return "\r\n".join(line for line in lines if line)

    @property
    def link_density(self) -> float:
        n = len(self.text)
        return (self.link_chars / n) if n else 1.0


class _BlockCollector(HTMLParser):
    """Streaming DOM segmenter: linear in input size, no tree materialized.

    Emits text blocks in document order (the reading-order guarantee — the
    analogue of the reference's y-sort at region_segmentation_service.py:30
    and np.lexsort grid ordering at table_detector_service.py:82: DOM order
    IS reading order for HTML).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self.tables: list[list[list[str]]] = []  # table -> rows -> cell texts
        self._stack: list[str] = []
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._cur: _Block | None = None
        self._pre_depth = 0
        self._table_stack: list[dict[str, Any]] = []

    # -- block lifecycle --
    def _flush(self) -> None:
        if self._cur is not None and self._cur.text:
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure_block(self) -> _Block:
        if self._cur is None:
            tag = "body"
            for t in reversed(self._stack):
                if t in BLOCK_TAGS:
                    tag = t
                    break
            self._cur = _Block(tag, self._boiler_depth > 0, len(self.blocks))
        return self._cur

    # -- HTMLParser hooks --
    def handle_starttag(self, tag: str, attrs: Any) -> None:
        tag = tag.lower()
        if tag == "br":
            if self._cur is not None:
                self._cur.parts.append(_BR)
            return
        self._stack.append(tag)
        if tag == "pre":
            self._pre_depth += 1
        if tag in DROP_TAGS:
            self._drop_depth += 1
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS or tag in BOILERPLATE_TAGS:
            self._flush()
        if tag == "table":
            self._table_stack.append({"rows": [], "cur_row": None, "cur_cell": None})
        elif self._table_stack:
            t = self._table_stack[-1]
            if tag == "tr":
                t["cur_row"] = []
                t["rows"].append(t["cur_row"])
            elif tag in ("td", "th"):
                t["cur_cell"] = []
                if t["cur_row"] is None:
                    t["cur_row"] = []
                    t["rows"].append(t["cur_row"])
                t["cur_row"].append(t["cur_cell"])

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        # pop to matching open tag (lenient on malformed nesting)
        if tag in self._stack:
            while self._stack:
                popped = self._stack.pop()
                if popped in DROP_TAGS:
                    self._drop_depth = max(0, self._drop_depth - 1)
                if popped in BOILERPLATE_TAGS:
                    self._boiler_depth = max(0, self._boiler_depth - 1)
                if popped == "a":
                    self._link_depth = max(0, self._link_depth - 1)
                if popped == "pre":
                    self._pre_depth = max(0, self._pre_depth - 1)
                if popped in BLOCK_TAGS or popped in BOILERPLATE_TAGS:
                    self._flush()
                if popped == "table" and self._table_stack:
                    t = self._table_stack.pop()
                    self.tables.append(
                        [["".join(c) for c in row] for row in t["rows"]]
                    )
                elif popped in ("td", "th") and self._table_stack:
                    self._table_stack[-1]["cur_cell"] = None
                if popped == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._drop_depth > 0 or not data:
            return
        data = data.replace(_BR, "")
        if self._pre_depth > 0:
            data = data.replace("\n", _BR)
        if self._cur is None and not data.replace(_BR, "").strip():
            return  # inter-tag whitespace must not open a block
        blk = self._ensure_block()
        blk.parts.append(data)
        if self._boiler_depth > 0:
            blk.boiler = True  # sticky: any boilerplate-scoped text taints the block
        if self._link_depth > 0:
            blk.link_chars += len(" ".join(data.split()))
        if self._table_stack and self._table_stack[-1]["cur_cell"] is not None:
            self._table_stack[-1]["cur_cell"].append(data)

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def parse_blocks(html: str) -> tuple[list[_Block], list[list[list[str]]]]:
    """Segment an HTML document into reading-ordered text blocks + tables."""
    c = _BlockCollector()
    try:
        c.feed(html)
        c.close()
    except Exception:
        # malformed beyond the lenient parser: treat remaining text as one block
        c._flush()
    return c.blocks, c.tables


# P3 analogue — block keep/drop decision (density heuristics)
def keep_block(tag: str, text: str, link_density: float, boiler: bool) -> bool:
    if boiler:
        return False
    if link_density > MAX_LINK_DENSITY:
        return False
    min_chars = MIN_HEADING_CHARS if tag in HEADING_TAGS else MIN_BLOCK_CHARS
    return len(text) >= min_chars


# ---------------------------------------------------------------------------
# K8 — text cleaning (EXACT reference semantics — the golden normalization)
# ---------------------------------------------------------------------------


def clean_text(text: str | None) -> str:
    """information_extraction_service.py:15-22, byte-for-byte."""
    if not text:
        return ""
    text = text.replace("\n", "\r\n")
    text = "\r\n".join(line.strip() for line in text.split("\r\n"))
    return text.strip()


# ---------------------------------------------------------------------------
# page-level extraction: blocks -> (extracted_text, spans, tables)
# ---------------------------------------------------------------------------


def extract_page(raw: bytes | str | None) -> dict[str, Any]:
    """Full per-page kernel: decode -> segment -> filter -> reading-order join.

    Returns ``{"extracted_text", "spans", "tables", "n_blocks", "n_kept"}``.
    spans: one per kept block — (x=start char offset in extracted_text,
    y=block reading-order index, w=char length, h=1, kind=source tag,
    score=extraction confidence); the structural analogue of region bboxes
    (region_segmentation_service.py:20-31). score is the P8 analogue of the
    reference's per-OCR-result confidence (ocr_process_service.py:89-95):
    the keep/drop decision's own inputs surfaced as a 0..1 quality signal,
    round(min(chars/500, 1) * (1 - link_density), 6) — so downstream filters
    can threshold extraction confidence exactly like the reference drops
    conf == -1 entries.
    tables: flat cell list (row, col, bbox=[table_idx,row,col,0], text) — the
    analogue of the cell grid at table_detector_service.py:97-105.
    """
    html = decode_html(raw)
    blocks, raw_tables = parse_blocks(html)
    kept = [
        b
        for b in blocks
        if keep_block(b.tag, b.text, b.link_density, b.boiler)
    ]
    texts = [b.text for b in kept]
    extracted = "\r\n".join(texts)
    # clean_text is idempotent here (blocks are whitespace-collapsed), but we
    # still apply it so the invariant is the function, not an argument about it.
    extracted = clean_text(extracted)
    spans = []
    offset = 0
    for b, t in zip(kept, texts):
        score = round(min(len(t) / 500.0, 1.0) * (1.0 - b.link_density), 6)
        spans.append(
            {
                "x": offset,
                "y": b.index,
                "w": len(t),
                "h": 1,
                "kind": b.tag,
                "score": score,
            }
        )
        offset += len(t) + 2  # + len("\r\n")
    cells = []
    for ti, rows in enumerate(raw_tables):
        for ri, row in enumerate(rows):
            for ci, cell in enumerate(row):
                txt = " ".join(cell.split())
                if txt:
                    cells.append(
                        {
                            "row": ri,
                            "col": ci,
                            "bbox": [ti, ri, ci, 0],
                            "text": txt,
                        }
                    )
    return {
        "extracted_text": extracted,
        "spans": spans,
        "tables": cells,
        "n_blocks": len(blocks),
        "n_kept": len(kept),
    }


# ---------------------------------------------------------------------------
# K9-K13 — field extraction battery (reference patterns, first-match-wins)
# ---------------------------------------------------------------------------

_LOCATION_DATE_RE = re.compile(
    # information_extraction_service.py:28
    r"(?i)(?:tại|,)?\s*([^,\r\n]+?)\s*,\s*ngày\s+(\d{1,2})\s+tháng\s+(\d{1,2})\s+năm\s+(\d{4})"
)
_SUBJECT_RE = re.compile(
    # information_extraction_service.py:43
    r"(?i)(?:v/v|về việc)\s+(.*?)(?=\r\n\r\n|\Z)",
    re.DOTALL,
)
_AGENCY_LINE_DROP_RE = re.compile(r"(?i)(số|ngày)")  # :57 (P10)

_COMPILED_PATTERNS: dict[str, list[tuple[re.Pattern[str], list[str]]]] = {
    field: [
        (
            re.compile(p, re.MULTILINE | re.IGNORECASE | re.DOTALL),
            PATTERN_GATES.get(field, [[]] * len(patterns))[i],
        )
        for i, p in enumerate(patterns)
    ]
    for field, patterns in EXTRACTION_PATTERNS.items()
}


def _gate_open(lower_text: str, gate: list[str]) -> bool:
    """True iff the pattern could match: no gate, or a required literal
    (any-of, lowercase) is present. Skipping a gated-out pattern never
    changes the result — see config.PATTERN_GATES."""
    return not gate or any(lit in lower_text for lit in gate)


def agency_head(text: str) -> str:
    r"""The text before the first CRLF when a "ngày" follows that CRLF, else
    the whole text: the match of information_extraction_service.py:51's
    ``^(.*?)(?=\r\n.*?ngày|\Z)`` (DOTALL) in linear time. The regex
    rescans the tail from every CRLF when no "ngày" follows."""
    p = text.find("\r\n")
    return text[:p] if p >= 0 and text.find("ngày", p + 2) >= 0 else text


def extract_fields(text: str | None) -> dict[str, str | None]:
    """information_extraction_service.py:61-116 (minus metadata/timestamps)."""
    text = clean_text(text)
    lower = text.lower()
    info: dict[str, str | None] = {f: None for f in FIELD_NAMES}
    for field, patterns in _COMPILED_PATTERNS.items():
        for pat, gate in patterns:
            if not _gate_open(lower, gate):
                continue
            m = pat.search(text)
            if m:
                value = m.group(1) if m.groups() else m.group(0)
                info[field] = value.strip()
                break
    if "ngày" in lower:
        m = _LOCATION_DATE_RE.search(text)
        if m:
            info["issue_location"] = m.group(1).strip()
            info["issue_date"] = f"{m.group(2)}/{m.group(3)}/{m.group(4)}"
    if "v/v" in lower or "về việc" in lower:
        m = _SUBJECT_RE.search(text)
        if m:
            info["subject"] = m.group(1).strip()
    if not info["issuing_agency"]:
        agency_lines = [
            line.strip()
            for line in agency_head(text).strip().split("\r\n")
            if line.strip() and not _AGENCY_LINE_DROP_RE.match(line)
        ]
        if agency_lines:
            info["issuing_agency"] = "\r\n".join(agency_lines)
    return info


# ---------------------------------------------------------------------------
# K16 + J3/U1/U2 + P4 — merge predicates
# ---------------------------------------------------------------------------


def normalize_match_text(text: str | None) -> str:
    """document_merger_service.py:81-87."""
    if not text:
        return ""
    return re.sub(r"[^\w\s-]", "", text).lower().strip()


def is_empty_page(page: dict[str, Any]) -> bool:
    """document_merger_service.py:65-79."""
    if not (page.get("ocr_text") or "").strip():
        return True
    extracted = page.get("extracted_info") or {}
    if not any(extracted.values()):
        return True
    if not page.get("regions"):
        return True
    return False


def is_same_document(page1: dict[str, Any], page2: dict[str, Any]) -> bool:
    """document_merger_service.py:26-63, same decision order."""
    try:
        num1 = normalize_match_text(
            (page1.get("extracted_info") or {}).get("document_number") or ""
        )
        num2 = normalize_match_text(
            (page2.get("extracted_info") or {}).get("document_number") or ""
        )
        if num1 and num2 and num1 == num2:
            return True

        text1 = (page1.get("ocr_text") or "").strip()
        text2 = (page2.get("ocr_text") or "").strip()
        last_sentence = text1.split(".")[-1].strip()
        first_sentence = text2.split(".")[0].strip()
        if last_sentence and first_sentence:
            words1 = set(last_sentence.lower().split())
            words2 = set(first_sentence.lower().split())
            if len(words1 & words2) >= MIN_MATCHING_WORDS:
                return True

        matches = 0
        for field in MATCHING_FIELDS:
            v1 = normalize_match_text(
                (page1.get("extracted_info") or {}).get(field) or ""
            )
            v2 = normalize_match_text(
                (page2.get("extracted_info") or {}).get(field) or ""
            )
            if v1 and v2 and v1 == v2:
                matches += 1
        return matches >= MIN_FIELD_MATCHES
    except Exception:
        return False


# ---------------------------------------------------------------------------
# K15 — doc-level re-extraction over merged text
# ---------------------------------------------------------------------------

_FULL_NUMBER_RE = re.compile(r"[Ss]ố\s*:?\s*([\w-]+/[\w-]+)")  # merger :129
_LOCATION_HN_RE = re.compile(r"(?i),?\s*(Hà\s*Nội)\s*,\s*ngày")  # :136
_AGENCY_2LINE_RE = re.compile(r"^([^\n]+\n[^\n]+)")  # :144
_RECIPIENT_RE = re.compile(r"Kính\s+gửi\s*:?\s*([^\n]+(?:\n[^\n]+)?)")  # :149
_ADDRESS_RE = re.compile(r"Nơi\s+nhận\s*:([^\n]+(?:\n-[^\n]+)*)")  # :154
_SIGNER_RE = re.compile(
    r"\n([A-ZĐÀÁẢÃẠĂẰẮẲẴẶÂẦẤẨẪẬÈÉẺẼẸÊỀẾỂỄỆÌÍỈĨỊÒÓỎÕỌÔỒỐỔỖỘƠỜỚỞỠỢÙÚỦŨỤƯỪỨỬỮỰÝỶỸỴ\s]+)$"
)  # :159
_POSITION_RE = re.compile(r"K/T.*?\n([A-Z\s]+)")  # :164
_SUBJECT_VV_RE = re.compile(r"V/v\s+([^\n]+(?:\n[^\n]+)?)")  # :169


def extract_document_info(pages: list[dict[str, Any]]) -> dict[str, Any]:
    """document_merger_service.py:101-173, same regex battery + carry-over."""
    full_text = "\n\n".join(p["ocr_text"] for p in pages)
    info: dict[str, Any] = {f: None for f in FIELD_NAMES}
    info["content"] = full_text
    info["page_numbers"] = [p["page_number"] for p in pages]

    first = pages[0].get("extracted_info") or {}
    info["document_type"] = first.get("document_type")
    doc_number = first.get("document_number")
    if doc_number:
        m = _FULL_NUMBER_RE.search(full_text)
        info["document_number"] = m.group(1) if m else doc_number
    m = _LOCATION_HN_RE.search(full_text)
    if m:
        info["issue_location"] = m.group(1)
    info["issue_date"] = first.get("issue_date")
    m = _AGENCY_2LINE_RE.search(full_text)
    if m:
        info["issuing_agency"] = m.group(1).strip()
    m = _RECIPIENT_RE.search(full_text)
    if m:
        info["recipients"] = m.group(1).strip()
    m = _ADDRESS_RE.search(full_text)
    if m:
        info["recipient_address"] = m.group(1).strip()
    m = _SIGNER_RE.search(full_text)
    if m:
        info["signer"] = m.group(1).strip()
    m = _POSITION_RE.search(full_text)
    if m:
        info["position"] = m.group(1).strip()
    m = _SUBJECT_VV_RE.search(full_text)
    if m:
        info["subject"] = m.group(1).strip()
    return info


def merge_pages(pages: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The sequential merge fold — document_merger_service.py:175-221.

    Compares each page against the LAST page of the current group (not simply
    the previous row — SURVEY.md §7 risk 3), exactly like the reference.
    Returns one dict per merged logical document.
    """
    valid = [p for p in pages if not is_empty_page(p)]
    for i, p in enumerate(valid):
        p["page_number"] = i + 1  # W1 renumber (merger :187)
    groups: list[list[dict[str, Any]]] = []
    current: list[dict[str, Any]] | None = None
    for page in valid:
        if current is not None and is_same_document(current[-1], page):
            current.append(page)
        else:
            if current is not None:
                groups.append(current)
            current = [page]
    if current is not None:
        groups.append(current)
    return [
        {"document_id": str(i), "document_info": extract_document_info(g)}
        for i, g in enumerate(groups, 1)
    ]
