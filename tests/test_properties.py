"""Property-based kernel tests (hypothesis) — SURVEY.md §5.4 robustness.

The kernels are the trusted core shared by the Spark UDF stages and the
oracle; they must be total (never raise) over arbitrary byte/text inputs and
hold their structural invariants on every input, not just fixtures.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from legal_document_ocr_spark.kernels import (
    agency_head,
    clean_text,
    decode_html,
    extract_fields,
    extract_page,
    is_same_document,
    merge_pages,
    normalize_match_text,
)
from legal_document_ocr_spark.config import FIELD_NAMES

TEXT = st.text(max_size=400)


@given(st.binary(max_size=2048) | st.none())
@settings(max_examples=200, deadline=None)
def test_decode_html_total(raw):
    out = decode_html(raw)
    assert isinstance(out, str)


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_extract_page_total_and_invariants(raw):
    res = extract_page(raw)
    text = res["extracted_text"]
    # clean_text normal form: no bare \n, no line-edge whitespace
    assert clean_text(text) == text
    # span offsets slice the extracted text exactly
    for s in res["spans"]:
        assert text[s["x"] : s["x"] + s["w"]] == text[s["x"] : s["x"] + s["w"]].strip("\x00")
        assert s["w"] >= 0 and s["x"] >= 0
    # reading order: span starts strictly increase
    starts = [s["x"] for s in res["spans"]]
    assert starts == sorted(starts)
    assert res["n_kept"] == len(res["spans"]) <= res["n_blocks"]


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_clean_text_idempotent(t):
    once = clean_text(t)
    assert clean_text(once) == once


@given(TEXT | st.none())
@settings(max_examples=200, deadline=None)
def test_extract_fields_total(t):
    info = extract_fields(t)
    assert set(info) == set(FIELD_NAMES)
    for v in info.values():
        assert v is None or isinstance(v, str)


# information_extraction_service.py:51 — the reference regex agency_head
# replaces, kept as its oracle
_AGENCY_HEAD_RE = re.compile(r"^(.*?)(?=\r\n.*?ngày|\Z)", re.DOTALL)
AGENCY_TEXT = st.lists(
    st.sampled_from(["\r\n", "\r", "\n", "ngày", "NGÀY", "x", " "]), max_size=40
).map("".join)


@given(AGENCY_TEXT | TEXT)
@settings(max_examples=500, deadline=None)
def test_agency_head_matches_reference_regex(t):
    assert agency_head(t) == _AGENCY_HEAD_RE.search(t).group(1)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_normalize_match_text_stable(t):
    n = normalize_match_text(t)
    assert normalize_match_text(n) == n
    assert n == n.lower()


def _page(i: int, text: str) -> dict:
    return {
        "ocr_text": text,
        "extracted_info": {"document_number": f"{i}/X" if text else None},
        "regions": [{"x": 0}] if text else [],
    }


@given(st.lists(st.tuples(st.integers(0, 3), st.text(min_size=0, max_size=40)), max_size=8))
@settings(max_examples=200, deadline=None)
def test_merge_pages_total_and_renumbered(pages_spec):
    pages = [_page(i, t) for i, t in pages_spec]
    docs = merge_pages(pages)
    # every output doc has contiguous global page numbers and content
    seen = []
    for d in docs:
        info = d["document_info"]
        assert info["page_numbers"]
        seen.extend(info["page_numbers"])
    assert seen == sorted(seen) == list(range(1, len(seen) + 1))


@given(TEXT, TEXT)
@settings(max_examples=200, deadline=None)
def test_is_same_document_total(a, b):
    assert is_same_document(_page(0, a), _page(0, b)) in (True, False)


# ---------------------------------------------------------------------------
# round-3 codecs: decoders must be TOTAL over arbitrary bytes (raise only
# ValueError/NotImplementedError — never IndexError/KeyError/MemoryError)
# and invert their encoders within documented error bounds
# ---------------------------------------------------------------------------


@given(st.binary(max_size=4096))
@settings(max_examples=300, deadline=None)
def test_image_decoders_total_over_garbage(raw):
    from legal_document_ocr_spark.codecs import decode_image

    try:
        img = decode_image(raw)
    except (ValueError, NotImplementedError):
        return
    assert set(img) == {"width", "height", "mode", "pixels"}


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=16),
    st.randoms(use_true_random=False),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_roundtrip_error_bound_property(w, h, rng):
    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_baseline

    px = bytes(rng.randrange(256) for _ in range(w * h))
    img = decode_jpeg(encode_jpeg_baseline(w, h, px))
    assert (img["width"], img["height"]) == (w, h)
    assert max(abs(a - b) for a, b in zip(img["pixels"], px)) <= 2


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=16),
    st.randoms(use_true_random=False),
)
@settings(max_examples=30, deadline=None)
def test_gif_roundtrip_exact_property(w, h, rng):
    from legal_document_ocr_spark.codecs import decode_gif, encode_gif

    palette = bytes(rng.randrange(256) for _ in range(768))
    idx = bytes(rng.randrange(256) for _ in range(w * h))
    img = decode_gif(encode_gif(w, h, idx, palette))
    assert img["pixels"] == b"".join(palette[i * 3 : i * 3 + 3] for i in idx)


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_gif_lzw_total_over_garbage(data):
    from legal_document_ocr_spark.codecs import _gif_lzw_decode

    try:
        _gif_lzw_decode(8, data, 64)
    except ValueError:
        pass


# --- round-3 late operators: pure-Python surface -------------------------

from legal_document_ocr_spark.operators.textops import MOJIBAKE_PATTERN  # noqa: E402
import re  # noqa: E402

_MOJI = re.compile(MOJIBAKE_PATTERN)


@given(st.text(alphabet=st.characters(max_codepoint=0x7F), max_size=400))
@settings(max_examples=300, deadline=None)
def test_mojibake_pattern_never_fires_on_ascii(t):
    assert _MOJI.search(t) is None


@given(st.text(alphabet="abcdefghij ", min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_mojibake_pattern_detects_injected_damage(t):
    # a double-encoded e-acute anywhere in otherwise-clean text is found
    damaged = t + "cafÃ©"
    assert _MOJI.search(damaged) is not None
