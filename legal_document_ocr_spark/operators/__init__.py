"""Operator library — Catalyst-first implementations of the engine surface.

- ``textops``    — language-ID, quality scoring, token counting, document
  fingerprinting (SURVEY.md §2.3 K8-K14 re-expressed as native
  expressions).
- ``dedup``      — exact (sha2 group), MinHash+LSH, SimHash, n-gram Jaccard,
  embedding-cosine near-dup (the web-scale rewrite of the reference's
  content-addressed cache, SURVEY.md §2.4 J2).
- ``similarity`` — brute-force cosine top-k + sign-LSH bucketed ANN over an
  embedding column.
- ``relational`` — the reference's query surface (listing / filter /
  pagination / point lookup, document_service.py:83-229) plus the
  aggregation/window/join operator battery from SURVEY.md §2.2-2.8.
- ``multimodal`` — opaque binary columns with typed metadata; REAL
  pure-stdlib decode (PNG/BMP/WAV/baseline-JPEG/GIF) + feature extraction
  over mapInPandas with per-record error isolation (only WebP/video remain
  declared stubs).
- ``urls``       — URL canonicalization, link/anchor/metadata extraction,
  robots.txt + politeness, sitemaps, DOM stats, boilerpipe block
  classification, redirect resolution.
- ``graph``      — host PageRank, HITS, reciprocal-link farm detection.
- ``sampling``   — content-addressed deterministic/stratified/mixture
  sampling, DSIR importance weights, per-source KL drift.

Every function takes DataFrames in, DataFrame out — no row-at-a-time
Python, no driver-side loops beyond scalar aggregates; oracle parity notes
live next to each operator.
"""

from . import (  # noqa: F401
    dedup,
    graph,
    multimodal,
    relational,
    sampling,
    similarity,
    textops,
    urls,
)
