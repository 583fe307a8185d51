"""Registry segment: privacy/data-quality census, URL template mining,
graph assortativity, ANN recall eval, and rank fusion (round-4
session-11 additions).

Each entry pairs the Spark operator with a DuckDB oracle restating the
same deterministic computation (integer/micro arithmetic, pinned IEEE
evaluation order, fixed tuple orderings — the portability contract from
queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _TOKS, _docs, _tbl, _utc
from .curation import _COS_SQL, _sign_bucket_sql
from .mining import _DEMO_EDGES_SQL
from .relational_web import _host_graph_edges

# ---------------------------------------------------------------------------
# k_anonymity
# ---------------------------------------------------------------------------


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census (relational.k_anonymity) over the
    (source, lang, 100-char length band) quasi-identifier — the
    release-readiness audit of the corpus metadata surface."""
    from ..operators.relational import k_anonymity

    docs = _docs(spark, sf_dir).select(
        "source", "lang", (F.col("n_chars") / 100).cast("long").alias("band")
    )
    return k_anonymity(docs, ["source", "lang", "band"], k=3)


_SQL_K_ANONYMITY = """
WITH g AS (
  SELECT source, lang, n_chars // 100 AS band, count(*) AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT source,
  sum(n)::bigint AS n_rows,
  count(*)::bigint AS n_groups,
  sum(CASE WHEN n < 3 THEN 1 ELSE 0 END)::bigint AS risky_groups,
  sum(CASE WHEN n < 3 THEN n ELSE 0 END)::bigint AS risky_rows,
  floor(sum(CASE WHEN n < 3 THEN n ELSE 0 END) * 1000000 / sum(n))::bigint
    AS risk_ppm
FROM g GROUP BY source
"""


# ---------------------------------------------------------------------------
# functional_dependencies
# ---------------------------------------------------------------------------

_FD_PAIRS = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderstatus", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
]


def q_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD discovery (relational.fd_violations) over four candidate
    determinant->dependent pairs on orders: the unique-key pair holds,
    the attribute pairs report their G3 repair cost."""
    from ..operators.relational import fd_violations

    return fd_violations(_tbl(spark, sf_dir, "orders"), _FD_PAIRS)


def _sql_functional_dependencies() -> str:
    parts = []
    for det, dep in _FD_PAIRS:
        parts.append(f"""
SELECT '{det}->{dep}' AS fd,
  count(*)::bigint AS n_groups,
  sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END)::bigint AS violating_groups,
  sum(rows - modal)::bigint AS repair_rows,
  (CASE WHEN sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) = 0
        THEN 1 ELSE 0 END)::bigint AS holds
FROM (
  SELECT det, count(*) AS vals, sum(n) AS rows, max(n) AS modal
  FROM (
    SELECT {det}::varchar AS det, {dep}::varchar AS dep, count(*) AS n
    FROM orders GROUP BY 1, 2
  ) GROUP BY det
)""")
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# winsorized_stats
# ---------------------------------------------------------------------------


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized mean of n_chars at p05/p95
    (relational.winsorized_stats — thresholds from the bounded
    distribution sketch, no sort-per-group window)."""
    from ..operators.relational import winsorized_stats

    return winsorized_stats(
        _docs(spark, sf_dir).select("source", "n_chars"), "source", "n_chars"
    )


_SQL_WINSORIZED_STATS = """
WITH dist AS (
  SELECT source, n_chars AS val, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, val, cnt,
    sum(cnt) OVER (PARTITION BY source ORDER BY val) AS c,
    sum(cnt) OVER (PARTITION BY source) AS n
  FROM dist
),
th AS (
  SELECT source, max(n)::bigint AS n_rows,
    min(CASE WHEN c >= (50000 * n + 999999) // 1000000 THEN val END)::bigint
      AS lo,
    min(CASE WHEN c >= (950000 * n + 999999) // 1000000 THEN val END)::bigint
      AS hi
  FROM cum GROUP BY source
),
clamped AS (
  SELECT th.source, th.n_rows, th.lo, th.hi,
    greatest(least(dist.val, th.hi), th.lo) * dist.cnt AS contrib
  FROM dist JOIN th ON dist.source = th.source
)
SELECT source, max(n_rows) AS n_rows, max(lo) AS lo, max(hi) AS hi,
  sum(contrib)::bigint AS winsorized_sum,
  floor(sum(contrib) * 1000000 / max(n_rows))::bigint
    AS winsorized_mean_micro
FROM clamped GROUP BY source
"""


# ---------------------------------------------------------------------------
# url_templates
# ---------------------------------------------------------------------------


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-path template census / crawler-trap flags
    (urls.url_templates) over the synthesized pages table: every host's
    /{lang}/{doc_id} family collapses to one {d}-template."""
    from ..operators.urls import url_templates
    from ..sources.pages import synthesize_pages_df

    pages = synthesize_pages_df(spark, sf_dir).select("url")
    return url_templates(pages, min_urls=3, share_ppm_threshold=500000)


_SQL_URL_TEMPLATES = """
WITH u AS (
  SELECT lower(source || '.example.com') AS host,
    '/' || lang || '/' || doc_id AS path
  FROM documents
),
t AS (
  SELECT host,
    regexp_replace(
      regexp_replace(path, '[0-9a-f]{8,}', '{x}', 'g'),
      '[0-9]+', '{d}', 'g') AS template
  FROM u
),
census AS (
  SELECT host, template, count(*) AS n_urls FROM t GROUP BY 1, 2
),
tot AS (SELECT host, sum(n_urls) AS host_urls FROM census GROUP BY 1)
SELECT census.host, template,
  n_urls::bigint AS n_urls, host_urls::bigint AS host_urls,
  floor(n_urls * 1000000 / host_urls)::bigint AS share_ppm,
  (CASE WHEN floor(n_urls * 1000000 / host_urls) >= 500000
             AND n_urls >= 3
        THEN 1 ELSE 0 END)::bigint AS trap
FROM census JOIN tot ON census.host = tot.host
"""


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity (graph.degree_assortativity: six
    exact integer sums -> one pinned IEEE expression) over the
    deterministic demo host graph."""
    from ..operators.graph import degree_assortativity

    return degree_assortativity(_host_graph_edges(spark, sf_dir))


_SQL_DEGREE_ASSORTATIVITY = f"""
WITH {_DEMO_EDGES_SQL},
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY node
),
both_dir AS (
  SELECT a, b FROM canon UNION ALL SELECT b AS a, a AS b FROM canon
),
p AS (
  SELECT da.degree AS dx, db.degree AS dy
  FROM both_dir
  JOIN deg da ON both_dir.a = da.node
  JOIN deg db ON both_dir.b = db.node
),
s AS (
  SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
    sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
  FROM p
),
nn AS (SELECT count(*) AS n_nodes FROM deg)
SELECT (m // 2)::bigint AS n_edges, n_nodes::bigint AS n_nodes,
  (CASE WHEN (m * sxx - sx * sx) <= 0 OR (m * syy - sy * sy) <= 0 THEN 0
        ELSE floor((m * sxy - sx * sy)::double
                   / (sqrt((m * sxx - sx * sx)::double)
                      * sqrt((m * syy - sy * sy)::double))
                   * 1000000)
   END)::bigint AS r_micro
FROM s, nn
"""


# ---------------------------------------------------------------------------
# ann_recall_eval
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 2-dim sign-LSH bucketed ANN path against the
    exact batched scan (similarity.ann_recall) for five query vectors —
    the eval harness that justifies trusting the approximate path."""
    from ..operators.similarity import ann_recall

    return ann_recall(
        _tbl(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=10, bucket_dims=2
    )


def _sql_ann_recall_eval() -> str:
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    bucket = _sign_bucket_sql("embedding", 2)
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         {bucket} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
  FROM e WHERE vec_id IN ({ids})
),
ex_s AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS cosine
  FROM e, q WHERE e.vec_id <> q.query_id
),
ex_r AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rnk
  FROM ex_s
),
ex AS (SELECT query_id, vec_id FROM ex_r WHERE rnk <= 10),
ap_s AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS cosine
  FROM e JOIN q ON e.bucket = q.qbucket
  WHERE e.vec_id <> q.query_id
),
ap_r AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rnk
  FROM ap_s
),
ap AS (SELECT query_id, vec_id FROM ap_r WHERE rnk <= 10),
per AS (
  SELECT ex.query_id, count(*) AS n_exact,
    sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
  FROM ex LEFT JOIN ap
    ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
  GROUP BY ex.query_id
),
an AS (SELECT query_id, count(*) AS n_approx FROM ap GROUP BY 1)
SELECT per.query_id, n_exact::bigint AS n_exact,
  coalesce(an.n_approx, 0)::bigint AS n_approx,
  n_overlap::bigint AS n_overlap,
  floor(n_overlap * 1000000 / n_exact)::bigint AS recall_ppm
FROM per LEFT JOIN an ON per.query_id = an.query_id
"""


# ---------------------------------------------------------------------------
# rank_fusion
# ---------------------------------------------------------------------------


def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (similarity.rrf_fuse, integer-nano
    contributions) of two top-20 retrieval lists for document 0: the
    exact embedding ranking (batch_topk) and a lexical distinct-token
    overlap ranking. The hybrid-retrieval shape every RAG/dedup
    triage pipeline runs; both input lists are one-pass and bounded,
    the fusion is a 40-row groupBy."""
    from ..operators.similarity import batch_topk, rrf_fuse
    from ..operators.textops import ws_tokens

    emb = (
        batch_topk(_tbl(spark, sf_dir, "embeddings"), [0], k=20)
        .select(
            F.lit("emb").alias("list_name"),
            F.col("vec_id").alias("doc_id"),
            F.col("rank"),
        )
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.array_distinct(ws_tokens(F.lower(F.col("text"))))
        ).alias("tok"),
    )
    qtoks = toks.where(F.col("doc_id") == 0).select("tok")
    ov = (
        toks.where(F.col("doc_id") != 0)
        .join(F.broadcast(qtoks), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap"))
        .orderBy(F.col("overlap").desc(), "doc_id")
        .limit(20)
    )
    # rank over the bounded 20-row list (documented unpartitioned-window
    # exception: input is LIMIT-bounded, never corpus-sized)
    w = Window.orderBy(F.col("overlap").desc(), "doc_id")
    lex = ov.select(
        F.lit("lex").alias("list_name"),
        "doc_id",
        F.row_number().over(w).cast("long").alias("rank"),
    )
    fused = rrf_fuse(emb.unionByName(lex), rrf_k=60, id_col="doc_id")
    return fused.select(
        F.col("doc_id").cast("long"), "n_lists", "best_rank", "rrf_nano"
    )


def _sql_rank_fusion() -> str:
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
emb_r AS (
  SELECT 'emb' AS list_name, e.vec_id AS doc_id,
    row_number() OVER (ORDER BY round({cos}, 6) DESC, e.vec_id) AS rank
  FROM e, q WHERE e.vec_id <> 0
),
emb AS (SELECT * FROM emb_r WHERE rank <= 20),
toks AS (
  SELECT doc_id, unnest(
    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))
  ) AS tok
  FROM documents
),
qt AS (SELECT tok FROM toks WHERE doc_id = 0),
ov AS (
  SELECT t.doc_id, count(*) AS overlap
  FROM toks t JOIN qt ON t.tok = qt.tok
  WHERE t.doc_id <> 0 GROUP BY t.doc_id
),
lex_r AS (
  SELECT 'lex' AS list_name, doc_id,
    row_number() OVER (ORDER BY overlap DESC, doc_id) AS rank
  FROM ov
),
lex AS (SELECT * FROM lex_r WHERE rank <= 20),
lists AS (SELECT * FROM emb UNION ALL SELECT * FROM lex)
SELECT doc_id::bigint AS doc_id,
  count(DISTINCT list_name)::bigint AS n_lists,
  min(rank)::bigint AS best_rank,
  sum(floor(1000000000 / (60 + rank)))::bigint AS rrf_nano
FROM lists GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# temperature_mixture
# ---------------------------------------------------------------------------


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights
    (sampling.temperature_mixture, alpha=0.5 via IEEE-exact sqrt,
    decimal-pinned normalization) with a 250k-doc budget."""
    from ..operators.sampling import temperature_mixture

    return temperature_mixture(
        _docs(spark, sf_dir), "source", sqrt_iters=1, budget=250000
    )


_SQL_TEMPERATURE_MIXTURE = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
w AS (
  SELECT source, n,
    round(sqrt(n::double), 12)::decimal(28,12) AS wv
  FROM c
),
t AS (SELECT sum(wv) AS tw FROM w)
SELECT source, n::bigint AS n_docs,
  floor(wv::double * 1000000 / tw::double)::bigint AS weight_ppm,
  floor(wv::double * 250000 / tw::double)::bigint AS expected_docs
FROM w, t
"""


# ---------------------------------------------------------------------------
# robots_drift
# ---------------------------------------------------------------------------


def _synth_robots_b_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-B robots corpus: same shape as _synth_robots_df but the
    per-(host, lang) Disallow coin both RETIRES some A rules (first coin
    < '8' AND second coin < '2' -> dropped) and ADDS new ones (first
    coin >= '8' AND second coin < '4')."""
    docs = _docs(spark, sf_dir)
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    dis_lines = []
    for lang in sorted(langs):
        coin = F.md5(F.concat(F.col("host"), F.lit("|" + lang)))
        c1, c2 = F.substring(coin, 1, 1), F.substring(coin, 2, 1)
        keep = (c1 < F.lit("8")) & (c2 >= F.lit("2"))
        add = (c1 >= F.lit("8")) & (c2 < F.lit("4"))
        dis_lines.append(
            F.when(keep | add, F.lit(f"Disallow: /{lang}"))
        )
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: evilbot"),
        F.lit("Disallow: /never"),
        F.lit("User-agent: *"),
        *dis_lines,
    )
    return hosts.select("host", body.alias("robots_txt"))


def q_robots_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host robots-policy drift (urls.robots_drift): rule sets from
    parse_robots_rules over the A and B snapshots, one full-outer
    shuffle_hash join, per-host added/removed census."""
    from ..operators.urls import parse_robots_rules, robots_drift
    from .relational_web import _synth_robots_df

    a = parse_robots_rules(_synth_robots_df(spark, sf_dir))
    b = parse_robots_rules(_synth_robots_b_df(spark, sf_dir))
    return robots_drift(a, b)


_SQL_ROBOTS_DRIFT = """
WITH hl AS (
  SELECT host, lang,
    substr(md5(host || '|' || lang), 1, 1) AS c1,
    substr(md5(host || '|' || lang), 2, 1) AS c2
  FROM (SELECT DISTINCT source || '.example.com' AS host FROM documents),
       (SELECT DISTINCT lang FROM documents)
),
a AS (SELECT host, '/' || lang AS prefix FROM hl WHERE c1 < '8'),
b AS (
  SELECT host, '/' || lang AS prefix FROM hl
  WHERE (c1 < '8' AND c2 >= '2') OR (c1 >= '8' AND c2 < '4')
),
m AS (
  SELECT coalesce(a.host, b.host) AS host,
    CASE WHEN a.host IS NOT NULL THEN 1 ELSE 0 END AS in_a,
    CASE WHEN b.host IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM a FULL OUTER JOIN b ON a.host = b.host AND a.prefix = b.prefix
)
SELECT host,
  sum(in_a)::bigint AS rules_a,
  sum(in_b)::bigint AS rules_b,
  sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)::bigint AS added,
  sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)::bigint AS removed,
  (CASE WHEN sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
           + sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) > 0
        THEN 1 ELSE 0 END)::bigint AS changed
FROM m GROUP BY host
"""


# ---------------------------------------------------------------------------
# ivf_admission
# ---------------------------------------------------------------------------


def q_ivf_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF admission (similarity.ivf_admission): the negated
    corpus arrives as a batch under shifted ids; frozen 8-cell index,
    cap 130 flags the hot cells."""
    from ..operators.similarity import ivf_admission

    emb = _tbl(spark, sf_dir, "embeddings")
    batch = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: -x.cast("double")).alias(
            "embedding"
        ),
    )
    return ivf_admission(emb, batch, 8, cell_cap=130)


_SQL_IVF_ADMISSION = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 8),
d0 AS (
  SELECT e.vec_id, c.cell_id,
    list_reduce(list_transform(generate_series(1, len(e.v)),
      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), (x, y) -> x + y) AS dist
  FROM e, c0 c
),
m0 AS (SELECT vec_id, min(dist) AS md FROM d0 GROUP BY vec_id),
a0 AS (
  SELECT d.vec_id, min(d.cell_id) AS cell
  FROM d0 d JOIN m0 ON d.vec_id = m0.vec_id AND d.dist = m0.md
  GROUP BY d.vec_id
),
eb AS (
  SELECT vec_id + 100000 AS vec_id,
    list_transform(embedding, x -> -(x::double)) AS v
  FROM embeddings
),
db AS (
  SELECT eb.vec_id, c.cell_id,
    list_reduce(list_transform(generate_series(1, len(eb.v)),
      i -> (eb.v[i] - c.cv[i]) * (eb.v[i] - c.cv[i])), (x, y) -> x + y) AS dist
  FROM eb, c0 c
),
mb AS (SELECT vec_id, min(dist) AS md FROM db GROUP BY vec_id),
ab AS (
  SELECT d.vec_id, min(d.cell_id) AS cell
  FROM db d JOIN mb ON d.vec_id = mb.vec_id AND d.dist = mb.md
  GROUP BY d.vec_id
),
cn AS (SELECT cell, count(*) AS corpus_n FROM a0 GROUP BY cell),
bn AS (SELECT cell, count(*) AS batch_n FROM ab GROUP BY cell)
SELECT coalesce(cn.cell, bn.cell)::bigint AS cell,
  coalesce(corpus_n, 0)::bigint AS corpus_n,
  coalesce(batch_n, 0)::bigint AS batch_n,
  (coalesce(corpus_n, 0) + coalesce(batch_n, 0))::bigint AS total_n,
  (CASE WHEN coalesce(corpus_n, 0) + coalesce(batch_n, 0) > 130
        THEN 1 ELSE 0 END)::bigint AS overfull
FROM cn FULL OUTER JOIN bn ON cn.cell = bn.cell
"""


# ---------------------------------------------------------------------------
# centroid_drift
# ---------------------------------------------------------------------------


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroid drift (similarity.centroid_drift):
    snapshot B shifts every 5th vector by +0.5 per component, so every
    source's centroid moves by a known amount; decimal-pinned sums
    throughout."""
    from ..operators.similarity import centroid_drift

    emb = _tbl(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    shifted = F.transform("embedding", lambda x: x.cast("double") + F.lit(0.5))
    snap_b = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, shifted)
        .otherwise(as_double)
        .alias("embedding"),
    )
    groups = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    return centroid_drift(emb, snap_b, groups)


_SQL_CENTROID_DRIFT = """
WITH ea AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
eb AS (
  SELECT vec_id,
    CASE WHEN vec_id % 5 = 0
         THEN list_transform(embedding, x -> x::double + 0.5)
         ELSE list_transform(embedding, x -> x::double) END AS v
  FROM embeddings
),
g AS (SELECT doc_id AS vec_id, source AS grp FROM documents),
ca AS (
  SELECT grp, dim, sum(xd)::double / count(*) AS c, count(*) AS n
  FROM (
    SELECT g.grp, unnest(generate_series(1, len(v))) AS dim,
      round(unnest(v), 12)::decimal(28,12) AS xd
    FROM ea JOIN g ON ea.vec_id = g.vec_id
  ) GROUP BY grp, dim
),
cb AS (
  SELECT grp, dim, sum(xd)::double / count(*) AS c, count(*) AS n
  FROM (
    SELECT g.grp, unnest(generate_series(1, len(v))) AS dim,
      round(unnest(v), 12)::decimal(28,12) AS xd
    FROM eb JOIN g ON eb.vec_id = g.vec_id
  ) GROUP BY grp, dim
),
j AS (
  SELECT ca.grp, ca.n AS n_a, cb.n AS n_b,
    round(ca.c * cb.c, 12)::decimal(28,12) AS ab,
    round(ca.c * ca.c, 12)::decimal(28,12) AS aa,
    round(cb.c * cb.c, 12)::decimal(28,12) AS bb
  FROM ca JOIN cb ON ca.grp = cb.grp AND ca.dim = cb.dim
),
s AS (
  SELECT grp, max(n_a) AS n_a, max(n_b) AS n_b,
    sum(ab) AS sab, sum(aa) AS saa, sum(bb) AS sbb
  FROM j GROUP BY grp
)
SELECT grp AS source, n_a::bigint AS n_a, n_b::bigint AS n_b,
  floor(sab::double / (sqrt(saa::double) * sqrt(sbb::double))
        * 1000000)::bigint AS cos_micro,
  (1000000 - floor(sab::double / (sqrt(saa::double) * sqrt(sbb::double))
        * 1000000))::bigint AS drift_micro
FROM s
"""


# ---------------------------------------------------------------------------
# filter_agreement
# ---------------------------------------------------------------------------


def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per source (relational.filter_agreement) between a
    length rule (n_chars >= 200) and a content rule (contains ' the ')
    — exact integer contingency, one pinned float expression."""
    from ..operators.relational import filter_agreement

    d = _docs(spark, sf_dir)
    return filter_agreement(
        d,
        F.col("n_chars") >= 200,
        F.col("text").contains(" the "),
    )


_SQL_FILTER_AGREEMENT = """
WITH c AS (
  SELECT source,
    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS b
  FROM documents
),
g AS (
  SELECT source, count(*)::bigint AS n,
    sum(a * b)::bigint AS n11, sum(a * (1 - b))::bigint AS n10,
    sum((1 - a) * b)::bigint AS n01, sum((1 - a) * (1 - b))::bigint AS n00
  FROM c GROUP BY source
),
k AS (
  SELECT source, n, n11, n10, n01, n00,
    (n11 + n00)::double / n::double AS po,
    ((n11 + n10) * (n11 + n01) + (n00 + n10) * (n00 + n01))::double
      / (n * n)::double AS pe
  FROM g
)
SELECT source, n, n11 AS both_keep, n10 AS only_a, n01 AS only_b,
  n00 AS both_drop,
  floor(CASE WHEN pe < 1.0 THEN (po - pe) / (1.0::double - pe)
             ELSE 0.0::double END * 1000000)::bigint AS kappa_micro
FROM k
"""


# ---------------------------------------------------------------------------
# epoch_plan
# ---------------------------------------------------------------------------


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition factors (sampling.epoch_plan) under the T=2
    temperature mixture with a 20M-char budget: upweighted small
    sources cross the 4-epoch cap — all-bigint arithmetic."""
    from ..operators.sampling import epoch_plan, temperature_mixture

    docs = _docs(spark, sf_dir)
    w = temperature_mixture(docs, "source", sqrt_iters=1, budget=250000)
    return epoch_plan(
        docs,
        w,
        "source",
        token_col=F.col("n_chars").cast("long"),
        budget_tokens=20_000_000,
        max_epochs=4,
    )


_SQL_EPOCH_PLAN = """
WITH cnt AS (
  SELECT source, count(*) AS n, sum(n_chars)::bigint AS unique_tokens
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, unique_tokens,
    round(sqrt(n::double), 12)::decimal(28,12) AS wv
  FROM cnt
),
t AS (SELECT sum(wv) AS tw FROM w),
p AS (
  SELECT source, unique_tokens,
    floor(wv::double * 1000000 / tw::double)::bigint AS weight_ppm
  FROM w, t
),
a AS (
  SELECT source, unique_tokens,
    (20000000 * weight_ppm) // 1000000 AS alloc_tokens
  FROM p
)
SELECT source, unique_tokens, alloc_tokens::bigint AS alloc_tokens,
  ((alloc_tokens * 1000000) // unique_tokens)::bigint AS epochs_ppm,
  (CASE WHEN (alloc_tokens * 1000000) // unique_tokens > 4000000
        THEN 1 ELSE 0 END)::bigint AS over_cap
FROM a
"""


# ---------------------------------------------------------------------------
# rollup_merge
# ---------------------------------------------------------------------------


def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (relational.merge_rollups): state
    = docs with doc_id % 3 != 0, batch = the rest; the merged result
    must equal the full-corpus rollup — which is exactly what the
    oracle states, so parity PROVES the merge rules are exact."""
    from ..operators.relational import merge_rollups, partial_rollup

    d = _docs(spark, sf_dir)
    state = partial_rollup(d.where(F.col("doc_id") % 3 != 0))
    batch = partial_rollup(d.where(F.col("doc_id") % 3 == 0))
    return merge_rollups(state, batch)


_SQL_ROLLUP_MERGE = """
SELECT source, count(*)::bigint AS n_docs,
  sum(n_chars)::bigint AS sum_v,
  min(n_chars)::bigint AS min_v,
  max(n_chars)::bigint AS max_v,
  ((sum(n_chars)::bigint * 1000000) // count(*))::bigint AS mean_micro
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# robots_wildcards
# ---------------------------------------------------------------------------


def q_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 wildcard rules (urls.robots_wildcard_filter): every host
    carries '/*.json$' (end-anchored), '/tmp/*', and the longer allow
    '/tmp/*5'; frontier paths derive from documents with /tmp and .json
    variants by doc_id residue, so all three precedence outcomes occur."""
    from ..operators.urls import robots_wildcard_filter

    d = _docs(spark, sf_dir)
    host = F.concat(F.col("source"), F.lit(".example.com"))
    path = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("/tmp")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(".json")).otherwise(F.lit("")),
    )
    frontier = d.select(host.alias("host"), path.alias("path"))
    hosts = d.select(host.alias("host")).distinct()
    pats = spark.createDataFrame(
        [("disallow", "/*.json$"), ("disallow", "/tmp/*"),
         ("allow", "/tmp/*5")],
        "rule string, pattern string",
    )
    return robots_wildcard_filter(frontier, hosts.crossJoin(pats))


_SQL_ROBOTS_WILDCARDS = r"""
WITH fr AS (
  SELECT source || '.example.com' AS host,
    (CASE WHEN doc_id % 5 = 0 THEN '/tmp' ELSE '' END)
    || '/' || lang || '/' || doc_id
    || (CASE WHEN doc_id % 4 = 0 THEN '.json' ELSE '' END) AS path
  FROM documents
),
hosts AS (SELECT DISTINCT source || '.example.com' AS host FROM documents),
pats AS (
  SELECT 'disallow' AS rule, '/*.json$' AS pattern
  UNION ALL SELECT 'disallow', '/tmp/*'
  UNION ALL SELECT 'allow', '/tmp/*5'
),
rx AS (
  SELECT host, rule, pattern,
    regexp_replace(
      regexp_replace(pattern, '([.\+?(){}\[\]|^$\\])', '\\\1', 'g'),
      '\*', '.*', 'g') AS star
  FROM hosts, pats
),
rx2 AS (
  SELECT host, rule, pattern,
    '^' || CASE WHEN pattern LIKE '%$'
                THEN substr(star, 1, length(star) - 2) || '$'
                ELSE star END AS rxp,
    lpad(length(pattern)::varchar, 4, '0')
      || CASE WHEN rule = 'allow' THEN 'b' ELSE 'a' END || pattern AS enc
  FROM rx
),
hits AS (
  SELECT f.host, f.path, max(r.enc) AS win
  FROM fr f JOIN rx2 r ON f.host = r.host AND regexp_matches(f.path, r.rxp)
  GROUP BY f.host, f.path
)
SELECT f.host, f.path,
  CASE WHEN h.win IS NULL THEN 'none'
       WHEN substr(h.win, 5, 1) = 'b' THEN 'allow'
       ELSE 'disallow' END AS verdict,
  CASE WHEN h.win IS NULL THEN NULL ELSE substr(h.win, 6) END
    AS rule_pattern
FROM fr f LEFT JOIN hits h ON f.host = h.host AND f.path = h.path
"""


# ---------------------------------------------------------------------------
# bootstrap_ci
# ---------------------------------------------------------------------------


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (sampling.bootstrap_ci) for
    the corpus mean n_chars — 16 hash-weighted replicas in one scan,
    all-bigint arithmetic."""
    from ..operators.sampling import bootstrap_ci

    return bootstrap_ci(_docs(spark, sf_dir), "doc_id", "n_chars")


def _sql_bootstrap_ci(replicas: int = 16) -> str:
    from ..operators.sampling import POISSON_CUM_PPM

    us = ",\n    ".join(
        f"('0x' || substr(md5(doc_id::varchar || '|{b}'), 1, 15))::bigint"
        f" % 1000000 AS u{b}"
        for b in range(replicas)
    )
    ws = ",\n    ".join(
        "("
        + " + ".join(
            f"CASE WHEN u{b} >= {t} THEN 1 ELSE 0 END"
            for t in POISSON_CUM_PPM
        )
        + f")::bigint AS w{b}"
        for b in range(replicas)
    )
    gs = ",\n    ".join(
        f"sum(w{b} * v)::bigint AS wv_{b}, sum(w{b})::bigint AS w_{b}"
        for b in range(replicas)
    )
    ms = ",\n    ".join(
        f"(wv_{b} * 1000000) // w_{b} AS m{b}" for b in range(replicas)
    )
    mlist = ", ".join(f"m{b}" for b in range(replicas))
    return f"""
WITH u AS (
  SELECT n_chars::bigint AS v,
    {us}
  FROM documents
),
w AS (
  SELECT v,
    {ws}
  FROM u
),
g AS (
  SELECT count(*)::bigint AS n, sum(v)::bigint AS sv,
    {gs}
  FROM w
),
m AS (
  SELECT n, sv,
    {ms}
  FROM g
)
SELECT n AS n_docs, ((sv * 1000000) // n)::bigint AS mean_micro,
  least({mlist})::bigint AS boot_lo_micro,
  greatest({mlist})::bigint AS boot_hi_micro,
  (greatest({mlist}) - least({mlist}))::bigint AS spread_micro
FROM m
"""


# ---------------------------------------------------------------------------
# linreg_train
# ---------------------------------------------------------------------------


def q_linreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OLS (relational.grouped_ols) of n_chars on whitespace
    count — closed-form model training from one scan of sufficient
    statistics (the training half of the quality-regression story)."""
    from ..operators.relational import grouped_ols

    d = _docs(spark, sf_dir)
    x = F.length("text") - F.length(F.expr("replace(text, ' ', '')"))
    return grouped_ols(d, x, F.col("n_chars"))


_SQL_LINREG_TRAIN = """
WITH f AS (
  SELECT source,
    (length(text) - length(replace(text, ' ', '')))::bigint AS x,
    n_chars::bigint AS y
  FROM documents
),
g AS (
  SELECT source, count(*)::bigint AS n,
    sum(x)::bigint AS sx, sum(y)::bigint AS sy,
    sum(x * x)::bigint AS sxx, sum(x * y)::bigint AS sxy,
    sum(y * y)::bigint AS syy
  FROM f GROUP BY source
),
d AS (
  SELECT source, n,
    (n * sxy - sx * sy)::bigint AS num,
    (n * sxx - sx * sx)::bigint AS den,
    (n * syy - sy * sy)::bigint AS deny,
    (sy * sxx - sx * sxy)::bigint AS ibn
  FROM g
)
SELECT source, n,
  CASE WHEN den > 0 AND deny > 0
       THEN floor(num::double * 1000000.0 / den::double)::bigint
  END AS slope_micro,
  CASE WHEN den > 0 AND deny > 0
       THEN floor(ibn::double * 1000000.0 / den::double)::bigint
  END AS intercept_micro,
  CASE WHEN den > 0 AND deny > 0
       THEN floor(num::double * num::double * 1000000.0
                  / (den::double * deny::double))::bigint
  END AS r2_micro
FROM d
"""


# ---------------------------------------------------------------------------
# logreg_train_gd
# ---------------------------------------------------------------------------


def q_logreg_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed training (relational.logreg_train_gd):
    2 gradient-descent rounds, one scan each, exact-integer surrogate
    sigmoid — x = n_chars div 100, y = contains ' the '. The oracle
    unrolls both iterations verbatim."""
    from ..operators.relational import logreg_train_gd

    d = _docs(spark, sf_dir)
    return logreg_train_gd(
        d,
        F.expr("n_chars div 100"),
        F.col("text").contains(" the "),
        iters=2,
    )


_SQL_LOGREG_TRAIN_GD = """
WITH f AS (
  SELECT (n_chars // 100)::bigint AS x,
    (CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END)::bigint AS y
  FROM documents
),
c AS (SELECT count(*)::bigint AS n FROM f),
g1 AS (
  SELECT sum(y * 1000000 - 500000)::bigint AS g0,
    sum((y * 1000000 - 500000) * x)::bigint AS gx
  FROM f
),
w1s AS (
  SELECT (g0 // (10 * n))::bigint AS w0, (gx // (10 * n))::bigint AS w1
  FROM g1, c
),
s2 AS (
  SELECT x, y,
    least(1000000,
          greatest(0, 500000 + ((w0 + w1 * x) // 4)))::bigint AS sig
  FROM f, w1s
),
g2 AS (
  SELECT sum(y * 1000000 - sig)::bigint AS g0,
    sum((y * 1000000 - sig) * x)::bigint AS gx
  FROM s2
),
w2s AS (
  SELECT (w1s.w0 + (g2.g0 // (10 * n)))::bigint AS w0,
    (w1s.w1 + (g2.gx // (10 * n)))::bigint AS w1
  FROM g2, w1s, c
),
fin AS (
  SELECT f.x, f.y,
    least(1000000,
          greatest(0, 500000 + ((w0 + w1 * x) // 4)))::bigint AS sig,
    w0, w1
  FROM f, w2s
)
SELECT count(*)::bigint AS n,
  max(w0)::bigint AS w0_micro, max(w1)::bigint AS w1_micro,
  sum(CASE WHEN sig >= 500000 THEN 1 ELSE 0 END)::bigint AS predicted_pos,
  sum(CASE WHEN (CASE WHEN sig >= 500000 THEN 1 ELSE 0 END) = y
           THEN 1 ELSE 0 END)::bigint AS correct
FROM fin
"""


# ---------------------------------------------------------------------------
# byte_fertility
# ---------------------------------------------------------------------------


def q_byte_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 byte fertility per lang (textops.byte_fertility): bytes per
    char / per token — Spark octet_length == DuckDB strlen."""
    from ..operators.textops import byte_fertility

    return byte_fertility(_docs(spark, sf_dir))


_SQL_BYTE_FERTILITY = r"""
WITH g AS (
  SELECT lang, count(*)::bigint AS n_docs,
    sum(length(text))::bigint AS n_chars,
    sum(strlen(text))::bigint AS n_bytes,
    sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))::bigint
      AS n_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_chars, n_bytes, n_tokens,
  ((n_bytes * 1000000) // n_chars)::bigint AS bytes_per_char_micro,
  ((n_bytes * 1000000) // n_tokens)::bigint AS bytes_per_token_micro
FROM g
"""


# ---------------------------------------------------------------------------
# filter_ensemble
# ---------------------------------------------------------------------------

_ENSEMBLE_RULES_SQL = (
    ("len200", "n_chars >= 200"),
    ("has_the", "contains(text, ' the ')"),
    ("has_of", "contains(text, ' of ')"),
)


def q_filter_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote ensemble audit (relational.filter_ensemble) over
    three curation rules, with leave-one-out flip counts per rule."""
    from ..operators.relational import filter_ensemble

    d = _docs(spark, sf_dir)
    return filter_ensemble(
        d,
        [
            ("len200", F.col("n_chars") >= 200),
            ("has_the", F.col("text").contains(" the ")),
            ("has_of", F.col("text").contains(" of ")),
        ],
    )


def _sql_filter_ensemble() -> str:
    names = [n for n, _ in _ENSEMBLE_RULES_SQL]
    conds = [c for _, c in _ENSEMBLE_RULES_SQL]
    vs = ",\n    ".join(
        f"CASE WHEN {c} THEN 1 ELSE 0 END AS v{i}"
        for i, c in enumerate(conds)
    )
    full = "CASE WHEN (v0 + v1 + v2) * 2 > 3 THEN 1 ELSE 0 END"
    parts = []
    for i in range(3):
        others = " + ".join(f"v{j}" for j in range(3) if j != i)
        loo = f"CASE WHEN ({others}) * 2 > 2 THEN 1 ELSE 0 END"
        parts.append(
            f"sum(v{i})::bigint AS k{i},\n"
            f"    sum(CASE WHEN ({full}) <> ({loo}) THEN 1 ELSE 0 END)"
            f"::bigint AS f{i}"
        )
    sums = ",\n    ".join(parts)
    rows = "\nUNION ALL\n".join(
        f"SELECT '{names[i]}' AS rule, n,\n"
        f"  ((k{i} * 1000000) // n)::bigint AS keep_rate_ppm,\n"
        f"  ((n_keep * 1000000) // n)::bigint AS majority_keep_ppm,\n"
        f"  f{i} AS loo_flips,\n"
        f"  ((f{i} * 1000000) // n)::bigint AS flip_ppm\nFROM t"
        for i in range(3)
    )
    return f"""
WITH v AS (
  SELECT {vs}
  FROM documents
),
t AS (
  SELECT count(*)::bigint AS n,
    sum({full})::bigint AS n_keep,
    {sums}
  FROM v
)
{rows}
"""


# ---------------------------------------------------------------------------
# percentile_normalize
# ---------------------------------------------------------------------------


def q_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile map (relational.percentile_normalize) of n_chars
    — the oracle states the naive corpus-wide cume_dist."""
    from ..operators.relational import percentile_normalize

    return percentile_normalize(_docs(spark, sf_dir))


_SQL_PERCENTILE_NORMALIZE = """
WITH d AS (SELECT doc_id, n_chars::bigint AS v FROM documents),
n AS (SELECT count(*)::bigint AS n FROM d)
SELECT doc_id, v AS n_chars,
  ((sum(1) OVER (ORDER BY v
     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    * 1000000) // max(n.n) OVER ())::bigint AS pct_ppm
FROM d, n
"""


# ---------------------------------------------------------------------------
# neyman_allocation
# ---------------------------------------------------------------------------


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation (relational.neyman_allocation) of a
    1000-row QA budget across sources by N_g*sigma_g."""
    from ..operators.relational import neyman_allocation

    return neyman_allocation(_docs(spark, sf_dir), budget=1000)


_SQL_NEYMAN_ALLOCATION = """
WITH g AS (
  SELECT source, count(*)::bigint AS n_rows,
    sum(n_chars)::bigint AS sx,
    sum(n_chars::bigint * n_chars::bigint)::bigint AS sxx
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_rows,
    (n_rows * sxx - sx * sx)::bigint AS ss,
    round(sqrt((n_rows * sxx - sx * sx)::double), 12)::decimal(28,12) AS wv
  FROM g
),
t AS (SELECT sum(wv) AS tw FROM w)
SELECT source, n_rows, ss,
  floor(wv::double * 1000 / tw::double)::bigint AS alloc_n,
  floor(wv::double * 1000000 / tw::double)::bigint AS alloc_ppm
FROM w, t
"""


# ---------------------------------------------------------------------------
# crossval_ols
# ---------------------------------------------------------------------------


def q_crossval_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS (relational.crossval_ols) of n_chars
    on whitespace count — leave-one-fold-out models by sufficient-
    statistic subtraction, two corpus scans total."""
    from ..operators.relational import crossval_ols

    d = _docs(spark, sf_dir)
    return crossval_ols(
        d,
        F.length("text") - F.length(F.expr("replace(text, ' ', '')")),
        F.col("n_chars"),
        k=5,
    )


_SQL_CROSSVAL_OLS = """
WITH f AS (
  SELECT
    (('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000) % 5
      AS fold,
    (length(text) - length(replace(text, ' ', '')))::bigint AS x,
    n_chars::bigint AS y
  FROM documents
),
per AS (
  SELECT fold, count(*)::bigint AS n, sum(x)::bigint AS sx,
    sum(y)::bigint AS sy, sum(x * x)::bigint AS sxx,
    sum(x * y)::bigint AS sxy
  FROM f GROUP BY fold
),
tot AS (
  SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
    sum(sxx) AS tsxx, sum(sxy) AS tsxy
  FROM per
),
tr AS (
  SELECT fold, (tn - n)::bigint AS n_train, n::bigint AS n_test,
    (tsx - sx)::bigint AS rx, (tsy - sy)::bigint AS ry,
    (tsxx - sxx)::bigint AS rxx, (tsxy - sxy)::bigint AS rxy
  FROM per, tot
),
models AS (
  SELECT fold, n_train, n_test,
    CASE WHEN n_train * rxx - rx * rx > 0
         THEN floor((n_train * rxy - rx * ry)::double * 1000000.0
                    / (n_train * rxx - rx * rx)::double)::bigint
    END AS slope_micro,
    CASE WHEN n_train * rxx - rx * rx > 0
         THEN floor((ry * rxx - rx * rxy)::double * 1000000.0
                    / (n_train * rxx - rx * rx)::double)::bigint
    END AS intercept_micro
  FROM tr
),
scored AS (
  SELECT f.fold,
    abs(f.y * 1000000 - (m.slope_micro * f.x + m.intercept_micro)) AS ae
  FROM f JOIN models m ON f.fold = m.fold
),
mae AS (
  SELECT fold, (sum(ae) // count(*))::bigint AS mae_micro
  FROM scored GROUP BY fold
)
SELECT m.fold::bigint AS fold, n_train, n_test, slope_micro,
  intercept_micro, mae_micro
FROM models m JOIN mae ON m.fold = mae.fold
"""


# ---------------------------------------------------------------------------
# threshold_select
# ---------------------------------------------------------------------------


def q_threshold_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utility-optimal quality gate (relational.threshold_select):
    score = n_chars div 10, keep-label = contains ' the ', utility =
    TP - 2*FP — every candidate threshold evaluated in one sweep."""
    from ..operators.relational import threshold_select

    d = _docs(spark, sf_dir)
    return threshold_select(
        d,
        F.expr("n_chars div 10"),
        F.col("text").contains(" the "),
        tp_gain=1,
        fp_cost=2,
    )


_SQL_THRESHOLD_SELECT = """
WITH d AS (
  SELECT (n_chars // 10)::bigint AS s,
    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y
  FROM documents
),
dist AS (
  SELECT s, count(*)::bigint AS n, sum(y)::bigint AS pos
  FROM d GROUP BY s
),
sweep AS (
  SELECT s AS threshold,
    sum(n) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS kept,
    sum(pos) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS tp
  FROM dist
)
SELECT threshold, kept, tp, (kept - tp)::bigint AS fp,
  (tp * 1 - (kept - tp) * 2)::bigint AS utility
FROM sweep ORDER BY utility DESC, threshold ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# ks_statistic
# ---------------------------------------------------------------------------


def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance (relational.ks_statistic) between
    src0's and src1's n_chars distributions — cross-multiplied CDFs."""
    from ..operators.relational import ks_statistic

    return ks_statistic(_docs(spark, sf_dir), "n_chars", "src0", "src1")


_SQL_KS_STATISTIC = """
WITH d AS (
  SELECT n_chars::bigint AS val,
    (CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::bigint AS ia,
    (CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::bigint AS ib
  FROM documents WHERE source IN ('src0', 'src1')
),
dist AS (
  SELECT val, sum(ia)::bigint AS ca, sum(ib)::bigint AS cb
  FROM d GROUP BY val
),
tot AS (SELECT sum(ca)::bigint AS na, sum(cb)::bigint AS nb FROM dist),
cum AS (
  SELECT val,
    sum(ca) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_a,
    sum(cb) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_b
  FROM dist
),
x AS (
  SELECT val, na, nb,
    abs(cum_a * nb - cum_b * na)::bigint AS x
  FROM cum, tot
)
SELECT na, nb, ((x * 1000000) // (na * nb))::bigint AS d_ppm,
  val::bigint AS at_value
FROM x ORDER BY x DESC, val ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# auc_exact
# ---------------------------------------------------------------------------


def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (relational.auc_exact) of n_chars as a predictor
    of contains ' the ' — Mann-Whitney counting on the bounded score
    distribution, tie-corrected, all integer."""
    from ..operators.relational import auc_exact

    d = _docs(spark, sf_dir)
    return auc_exact(d, F.col("n_chars"), F.col("text").contains(" the "))


_SQL_AUC_EXACT = """
WITH d AS (
  SELECT n_chars::bigint AS s,
    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y
  FROM documents
),
dist AS (
  SELECT s, sum(y)::bigint AS pos,
    (count(*) - sum(y))::bigint AS neg
  FROM d GROUP BY s
),
terms AS (
  SELECT pos, neg,
    (pos * (2 * coalesce(sum(neg) OVER (ORDER BY s
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       + neg))::bigint AS t
  FROM dist
),
agg AS (
  SELECT sum(pos)::bigint AS n_pos, sum(neg)::bigint AS n_neg,
    sum(t)::bigint AS u2
  FROM terms
)
SELECT n_pos, n_neg, u2,
  ((u2 * 1000000) // (2 * n_pos * n_neg))::bigint AS auc_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# quality_residuals
# ---------------------------------------------------------------------------


def q_quality_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->apply loop (relational.quality_residuals): per-source OLS
    of n_chars on whitespace count, every row scored against its own
    source's line."""
    from ..operators.relational import quality_residuals

    d = _docs(spark, sf_dir)
    return quality_residuals(
        d,
        F.length("text") - F.length(F.expr("replace(text, ' ', '')")),
        F.col("n_chars"),
    )


_SQL_QUALITY_RESIDUALS = """
WITH f AS (
  SELECT source,
    (length(text) - length(replace(text, ' ', '')))::bigint AS x,
    n_chars::bigint AS y
  FROM documents
),
g AS (
  SELECT source, count(*)::bigint AS n,
    sum(x)::bigint AS sx, sum(y)::bigint AS sy,
    sum(x * x)::bigint AS sxx, sum(x * y)::bigint AS sxy
  FROM f GROUP BY source
),
m AS (
  SELECT source,
    floor((n * sxy - sx * sy)::double * 1000000.0
          / (n * sxx - sx * sx)::double)::bigint AS slope_micro,
    floor((sy * sxx - sx * sxy)::double * 1000000.0
          / (n * sxx - sx * sx)::double)::bigint AS intercept_micro
  FROM g
)
SELECT f.source, x, y,
  (y * 1000000 - (slope_micro * x + intercept_micro))::bigint
    AS residual_micro,
  (CASE WHEN abs(y * 1000000 - (slope_micro * x + intercept_micro))
             > 2000000 THEN 1 ELSE 0 END)::bigint AS is_outlier
FROM f JOIN m ON f.source = m.source
"""


# ---------------------------------------------------------------------------
# log2_histogram
# ---------------------------------------------------------------------------


def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubling-bucket length histogram (relational.log2_histogram):
    bucket = bit length of n_chars via the portable bin() identity."""
    from ..operators.relational import log2_histogram

    return log2_histogram(_docs(spark, sf_dir))


_SQL_LOG2_HISTOGRAM = """
WITH b AS (
  SELECT source,
    CASE WHEN n_chars <= 0 THEN 0
         ELSE length(bin(n_chars::bigint)) END AS bucket
  FROM documents
)
SELECT source, bucket::bigint AS bucket,
  (CASE WHEN bucket = 0 THEN 0
        ELSE (1::bigint << (bucket - 1)) END)::bigint AS lo,
  (CASE WHEN bucket = 0 THEN 0
        ELSE (1::bigint << bucket) - 1 END)::bigint AS hi,
  count(*)::bigint AS n
FROM b GROUP BY source, bucket
"""


# ---------------------------------------------------------------------------
# kendall_tau / spearman_rho (round-4 session-14: exact rank correlation)
# ---------------------------------------------------------------------------


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b (relational.kendall_tau) between log2-bucketed
    doc length and whitespace count — concordant/discordant pairs from
    the bounded joint-bucket distribution, never an all-pairs join."""
    from ..operators.relational import kendall_tau

    d = _docs(spark, sf_dir)
    return kendall_tau(
        d,
        F.col("n_chars"),
        F.length("text") - F.length(F.expr("replace(text, ' ', '')")),
    )


_SQL_KENDALL_TAU = """
WITH f AS (
  SELECT n_chars::bigint AS xv,
    (length(text) - length(replace(text, ' ', '')))::bigint AS yv
  FROM documents
),
d AS (
  SELECT CASE WHEN xv <= 0 THEN 0 ELSE length(bin(xv)) END AS xb,
         CASE WHEN yv <= 0 THEN 0 ELSE length(bin(yv)) END AS yb
  FROM f
),
cells AS (SELECT xb, yb, count(*)::bigint AS n FROM d GROUP BY 1, 2),
cd AS (
  SELECT
    coalesce(sum(CASE WHEN a.yb < b.yb THEN a.n * b.n ELSE 0 END),
             0)::bigint AS concordant,
    coalesce(sum(CASE WHEN a.yb > b.yb THEN a.n * b.n ELSE 0 END),
             0)::bigint AS discordant
  FROM cells a JOIN cells b ON a.xb < b.xb
),
mx AS (
  SELECT sum(tx * (tx - 1) // 2)::bigint AS tie_x, sum(tx)::bigint AS n
  FROM (SELECT sum(n) AS tx FROM cells GROUP BY xb)
),
my AS (
  SELECT sum(ty * (ty - 1) // 2)::bigint AS tie_y
  FROM (SELECT sum(n) AS ty FROM cells GROUP BY yb)
)
SELECT n AS n_docs, concordant, discordant,
  CASE WHEN n * (n - 1) // 2 > tie_x AND n * (n - 1) // 2 > tie_y
    THEN floor(((concordant - discordant) * 1000000)::double
         / sqrt((n * (n - 1) // 2 - tie_x)::double)
         / sqrt((n * (n - 1) // 2 - tie_y)::double))::bigint
    ELSE 0 END AS tau_micro
FROM cd, mx, my
"""


def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rho (relational.spearman_rho) between doc length
    and whitespace count, ranks unique by doc_id tiebreak — two-phase
    bucketed ranking, no single-partition global sort."""
    from ..operators.relational import spearman_rho

    d = _docs(spark, sf_dir)
    return spearman_rho(
        d,
        F.col("n_chars"),
        F.length("text") - F.length(F.expr("replace(text, ' ', '')")),
    )


_SQL_SPEARMAN_RHO = """
WITH f AS (
  SELECT doc_id AS id, n_chars::bigint AS xv,
    (length(text) - length(replace(text, ' ', '')))::bigint AS yv
  FROM documents
),
rx AS (SELECT id, row_number() OVER (ORDER BY xv, id) AS rx FROM f),
ry AS (SELECT id, row_number() OVER (ORDER BY yv, id) AS ry FROM f),
a AS (
  SELECT count(*)::bigint AS n,
    coalesce(sum(((rx - ry)::hugeint) * ((rx - ry)::hugeint)),
             0::hugeint) AS s
  FROM rx JOIN ry USING (id)
)
SELECT n AS n_docs, s::varchar AS sum_d2,
  CASE WHEN n > 1 THEN
    floor((1 - (6 * s)::double / (n * (n * n - 1))::double)
          * 1000000)::bigint
  ELSE 0 END AS rho_micro
FROM a
"""


# ---------------------------------------------------------------------------
# mrr_eval
# ---------------------------------------------------------------------------

_MRR_TERMS = ["customer", "merge", "spark", "window"]


def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of tf-ranked retrieval vs head-salience
    relevance (textops.mrr_eval) — WindowGroupLimit top-k per term."""
    from ..operators.textops import mrr_eval

    return mrr_eval(_docs(spark, sf_dir), _MRR_TERMS, k=10)


def _sql_mrr_eval(k: int = 10) -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(_MRR_TERMS))
    return f"""
WITH q AS (SELECT unnest([{terms}]) AS query_term),
s AS (
  SELECT d.doc_id AS id, q.query_term,
    (length(d.text) - length(replace(d.text, q.query_term, '')))
      // length(q.query_term) AS tf,
    CASE WHEN contains(substr(d.text, 1, 120),
                       ' ' || q.query_term || ' ')
         THEN 1 ELSE 0 END AS rel
  FROM documents d, q
),
r AS (
  SELECT query_term, rel,
    row_number() OVER (PARTITION BY query_term ORDER BY tf DESC, id) AS rn
  FROM s
),
p AS (
  SELECT query_term,
    coalesce(min(CASE WHEN rel = 1 THEN rn END), 0)::bigint AS best_rank
  FROM r WHERE rn <= {k} GROUP BY query_term
),
pt AS (
  SELECT query_term, best_rank,
    (CASE WHEN best_rank > 0 THEN 1000000 // best_rank
          ELSE 0 END)::bigint AS rr_micro
  FROM p
)
SELECT * FROM (
  SELECT query_term, best_rank, rr_micro FROM pt
  UNION ALL
  SELECT '*ALL*',
    sum(CASE WHEN best_rank > 0 THEN 1 ELSE 0 END)::bigint,
    (sum(rr_micro) // count(*))::bigint
  FROM pt
) ORDER BY query_term
"""


# ---------------------------------------------------------------------------
# avg_precision / rbo_overlap / hill_tail_index (round-4 session-14)
# ---------------------------------------------------------------------------


def q_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (relational.avg_precision) of n_chars as
    a ranker for contains ' the ' — all-integer precision@k terms over
    two-phase unique ranks."""
    from ..operators.relational import avg_precision

    d = _docs(spark, sf_dir)
    return avg_precision(
        d, F.col("n_chars"), F.col("text").contains(" the ")
    )


_SQL_AVG_PRECISION = """
WITH b AS (
  SELECT doc_id AS id, n_chars::bigint AS s,
    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y
  FROM documents
),
r AS (SELECT id, y, row_number() OVER (ORDER BY s DESC, id) AS k FROM b),
p AS (
  SELECT id, row_number() OVER (ORDER BY s DESC, id) AS i
  FROM b WHERE y = 1
),
t AS (SELECT (i * 1000000) // k AS term FROM r JOIN p USING (id)),
a AS (
  SELECT count(*)::bigint AS n_pos,
    coalesce(sum(term), 0)::bigint AS st
  FROM t
)
SELECT n_pos, (SELECT count(*) FROM b)::bigint AS n_total,
  CASE WHEN n_pos > 0 THEN (st // n_pos)::bigint ELSE 0 END AS ap_micro
FROM a
"""


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (textops.rbo_overlap) between the top-10 by
    raw length and the top-10 by whitespace count — literal suffix-sum
    weights, one k x k match join."""
    from ..operators.textops import rbo_overlap

    d = _docs(spark, sf_dir)
    return rbo_overlap(
        d,
        F.col("n_chars").cast("long"),
        (F.length("text") - F.length(F.expr("replace(text, ' ', '')")))
        .cast("long"),
        k=10,
    )


def _sql_rbo_overlap(k: int = 10, p: float = 0.9) -> str:
    from ..operators.textops import rbo_weights_nano

    wl = rbo_weights_nano(k, p)
    return f"""
WITH base AS (
  SELECT doc_id AS id, n_chars::bigint AS ra,
    (length(text) - length(replace(text, ' ', '')))::bigint AS rb
  FROM documents
),
ta AS (
  SELECT id, row_number() OVER (ORDER BY ra DESC, id) AS da
  FROM (SELECT * FROM base ORDER BY ra DESC, id LIMIT {k})
),
tb AS (
  SELECT id, row_number() OVER (ORDER BY rb DESC, id) AS db
  FROM (SELECT * FROM base ORDER BY rb DESC, id LIMIT {k})
),
m AS (SELECT greatest(da, db) AS m FROM ta JOIN tb USING (id)),
w AS (SELECT {wl} AS wl)
SELECT {k}::bigint AS k, count(*)::bigint AS n_common,
  coalesce(sum(wl[m]), 0)::bigint AS rbo_nano
FROM m, w
"""


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (relational.hill_tail_index) over
    per-source document counts — the power-law cousin of host_gini."""
    from ..operators.relational import hill_tail_index

    return hill_tail_index(_docs(spark, sf_dir), "source", k=8)


_SQL_HILL_TAIL_INDEX = """
WITH c AS (SELECT source, count(*)::bigint AS x FROM documents GROUP BY 1),
t AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, source) AS i
  FROM c ORDER BY x DESC, source LIMIT 9
),
f AS (SELECT x AS xk1 FROM t WHERE i = 9),
s AS (
  SELECT sum(round(ln(t.x::double / f.xk1::double), 6)::decimal(18,6)) AS s,
    min(f.xk1)::bigint AS x_kplus1
  FROM t, f WHERE t.i <= 8
)
SELECT 8::bigint AS k, x_kplus1,
  CASE WHEN s > 0
    THEN floor((8 * 1000000)::double / s::double)::bigint
    ELSE 0 END AS alpha_micro
FROM s
"""


# ---------------------------------------------------------------------------
# simpson_diversity / welch_ttest / cvm_statistic / reliability_bins /
# waterfill_allocation (round-4 session-14, second wave)
# ---------------------------------------------------------------------------


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson language diversity per source
    (relational.simpson_diversity) — exact pair-counting on the bounded
    (source, lang) domain."""
    from ..operators.relational import simpson_diversity

    return simpson_diversity(_docs(spark, sf_dir), "source", "lang")


_SQL_SIMPSON_DIVERSITY = """
WITH cells AS (
  SELECT source AS grp, lang AS cat, count(*)::bigint AS c
  FROM documents GROUP BY 1, 2
),
per AS (
  SELECT grp, sum(c)::bigint AS n, count(*)::bigint AS n_cats,
    sum(c::hugeint * (c::hugeint - 1)) AS num
  FROM cells GROUP BY grp
)
SELECT grp AS source, n AS n_docs, n_cats,
  CASE WHEN n > 1 THEN
    floor(((n::hugeint * (n::hugeint - 1) - num) * 1000000)::double
          / (n::hugeint * (n::hugeint - 1))::double)::bigint
  ELSE 0 END AS simpson_micro
FROM per ORDER BY source
"""


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between src0's and src1's length distributions
    (relational.welch_ttest) — exact bigint moments from one scan, two
    pinned IEEE expressions."""
    from ..operators.relational import welch_ttest

    return welch_ttest(_docs(spark, sf_dir), "n_chars", "src0", "src1")


_SQL_WELCH_TTEST = """
WITH d AS (
  SELECT n_chars::bigint AS v,
    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia,
    CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS ib
  FROM documents WHERE source IN ('src0', 'src1')
),
a AS (
  SELECT sum(ia)::bigint AS na, sum(ia * v)::bigint AS sa,
    sum(CASE WHEN ia = 1 THEN v::hugeint * v ELSE 0 END) AS qa,
    sum(ib)::bigint AS nb, sum(ib * v)::bigint AS sb,
    sum(CASE WHEN ib = 1 THEN v::hugeint * v ELSE 0 END) AS qb
  FROM d
),
b AS (
  SELECT na, nb, sa, sb,
    (qa::double - sa::double * sa::double / na::double)
      / (na::double - 1) AS va,
    (qb::double - sb::double * sb::double / nb::double)
      / (nb::double - 1) AS vb
  FROM a
),
c AS (
  SELECT na, nb, sa, sb, va, vb,
    va / na::double + vb / nb::double AS se2
  FROM b
)
SELECT na AS n_a, nb AS n_b,
  CASE WHEN na > 1 AND nb > 1 THEN
    floor(((sa::double / na::double - sb::double / nb::double)
           / sqrt(se2)) * 1000000)::bigint
  ELSE 0 END AS t_micro,
  CASE WHEN na > 1 AND nb > 1 THEN
    floor(((se2 * se2)
           / ((va / na::double) * (va / na::double) / (na::double - 1)
              + (vb / nb::double) * (vb / nb::double) / (nb::double - 1)))
          * 1000000)::bigint
  ELSE 0 END AS dof_micro
FROM c
"""


def q_cvm_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises distance src0 vs src1
    (relational.cvm_statistic) — the integrated-squared companion to
    ks_statistic, same bounded distribution sketch."""
    from ..operators.relational import cvm_statistic

    return cvm_statistic(_docs(spark, sf_dir), "n_chars", "src0", "src1")


_SQL_CVM_STATISTIC = """
WITH d AS (
  SELECT n_chars::bigint AS val,
    (CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::bigint AS ia,
    (CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::bigint AS ib
  FROM documents WHERE source IN ('src0', 'src1')
),
dist AS (
  SELECT val, sum(ia)::bigint AS ca, sum(ib)::bigint AS cb
  FROM d GROUP BY val
),
tot AS (SELECT sum(ca)::bigint AS na, sum(cb)::bigint AS nb FROM dist),
cum AS (
  SELECT val, ca, cb,
    sum(ca) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_a,
    sum(cb) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_b
  FROM dist
),
t AS (
  SELECT sum(ca)::bigint AS n_a, sum(cb)::bigint AS n_b,
    sum(round((ca + cb)::double
      * ((cum_a::double * nb::double - cum_b::double * na::double)
         / (na::double * nb::double))
      * ((cum_a::double * nb::double - cum_b::double * na::double)
         / (na::double * nb::double)), 12)::decimal(28,12)) AS s
  FROM cum, tot
)
SELECT n_a, n_b,
  floor(((n_a::double * n_b::double
          / ((n_a::double + n_b::double) * (n_a::double + n_b::double)))
         * s::double) * 1000000)::bigint AS t_micro
FROM t
"""


def q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table (relational.reliability_bins) of the capped
    length score least(n_chars,2000)*500 ppm against contains ' the '
    — all-integer per-decile observed-vs-predicted gaps."""
    from ..operators.relational import reliability_bins

    d = _docs(spark, sf_dir)
    return reliability_bins(
        d,
        F.least(F.col("n_chars"), F.lit(2000)) * 500,
        F.col("text").contains(" the "),
    )


_SQL_RELIABILITY_BINS = """
WITH b AS (
  SELECT least(n_chars, 2000) * 500 AS pred,
    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT least(pred // 100000, 9)::bigint AS bin, count(*)::bigint AS n,
    sum(y)::bigint AS positives, sum(pred)::bigint AS sp
  FROM b GROUP BY 1
)
SELECT bin, n, positives, (sp // n)::bigint AS mean_pred_ppm,
  ((positives * 1000000) // n)::bigint AS observed_ppm,
  ((positives * 1000000) // n - sp // n)::bigint AS gap_ppm
FROM g ORDER BY bin
"""


def q_waterfill_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling of a 90%-of-corpus char budget across sources
    (sampling.waterfill_allocation) — small sources taken whole, big
    ones waterlined; allocations sum to exactly the budget."""
    from ..operators.sampling import waterfill_allocation

    d = _docs(spark, sf_dir)
    caps = d.groupBy("source").agg(F.sum("n_chars").cast("long").alias("cap"))
    total = d.agg(F.sum("n_chars")).collect()[0][0] or 0
    return waterfill_allocation(
        caps, (int(total) * 9) // 10, group_col="source", cap_col="cap"
    )


_SQL_WATERFILL_ALLOCATION = """
WITH caps AS (
  SELECT source AS grp, sum(n_chars)::bigint AS cap
  FROM documents GROUP BY 1
),
bdg AS (SELECT ((sum(n_chars) * 9) // 10)::bigint AS b FROM documents),
t AS (
  SELECT grp, cap,
    row_number() OVER (ORDER BY cap, grp)::bigint AS i,
    sum(cap) OVER (ORDER BY cap, grp
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS prefix
  FROM caps
),
mm AS (SELECT max(i)::bigint AS m FROM t),
t2 AS (
  SELECT t.*, m, b,
    CASE WHEN prefix + cap * (m - i) <= b THEN 1 ELSE 0 END AS is_capped
  FROM t, mm, bdg
),
js AS (
  SELECT
    coalesce(max(CASE WHEN is_capped = 1 THEN i END), 0)::bigint AS jstar,
    coalesce(max(CASE WHEN is_capped = 1 THEN prefix END), 0)::bigint
      AS taken,
    max(m)::bigint AS m, max(b)::bigint AS b
  FROM t2
),
x AS (SELECT jstar, m - jstar AS k, b - taken AS r FROM js)
SELECT grp AS source, cap,
  (CASE WHEN is_capped = 1 THEN cap
        ELSE r // k
             + (CASE WHEN i - jstar <= r % k THEN 1 ELSE 0 END)
   END)::bigint AS alloc,
  is_capped::bigint AS capped
FROM t2, x
ORDER BY source
"""


def q_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's unsupervised threshold (relational.otsu_threshold) on the
    n_chars distribution — the label-free quality cut; argmax of pinned
    between-class variance over the bounded distribution sketch."""
    from ..operators.relational import otsu_threshold

    return otsu_threshold(_docs(spark, sf_dir), "n_chars")


_SQL_OTSU_THRESHOLD = """
WITH dist AS (
  SELECT n_chars::bigint AS val, count(*)::bigint AS c
  FROM documents GROUP BY 1
),
tot AS (
  SELECT sum(c)::bigint AS n, sum(c::hugeint * val) AS s FROM dist
),
cum AS (
  SELECT val,
    sum(c) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS w0,
    sum(c::hugeint * val) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0
  FROM dist
),
cand AS (
  SELECT val AS threshold, w0 AS n_below, (n - w0)::bigint AS n_above,
    floor(
      ((s0::double * (n - w0)::double - (s - s0)::double * w0::double)
       * (s0::double * (n - w0)::double - (s - s0)::double * w0::double)
       / (w0::double * (n - w0)::double)
       / (n::double * n::double)) * 1000000
    )::bigint AS sigma_b_micro
  FROM cum, tot WHERE w0 < n
)
SELECT threshold, n_below, n_above, sigma_b_micro
FROM cand ORDER BY sigma_b_micro DESC, threshold ASC LIMIT 1
"""


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of n_chars
    (relational.benford_deviation) — literal expected-share table,
    all-integer ppm deviations."""
    from ..operators.relational import benford_deviation

    return benford_deviation(_docs(spark, sf_dir), "n_chars")


def _sql_benford_deviation() -> str:
    from ..operators.relational import BENFORD_MICRO

    digits = list(range(1, 10))
    return f"""
WITH c AS (
  SELECT substr(n_chars::varchar, 1, 1)::bigint AS digit,
    count(*)::bigint AS n
  FROM documents WHERE n_chars > 0 GROUP BY 1
),
d AS (SELECT unnest({digits}) AS digit,
             unnest({list(BENFORD_MICRO)}) AS exp_ppm),
t AS (SELECT sum(n)::bigint AS total FROM c)
SELECT d.digit::bigint AS digit, coalesce(c.n, 0)::bigint AS n,
  ((coalesce(c.n, 0) * 1000000) // total)::bigint AS obs_ppm,
  d.exp_ppm::bigint AS exp_ppm,
  ((coalesce(c.n, 0) * 1000000) // total - d.exp_ppm)::bigint AS dev_ppm
FROM d LEFT JOIN c ON d.digit = c.digit, t
ORDER BY digit
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (relational.runs_test) of lang='en'
    over the stored doc_id order — adjacency as an id=id+1 equi-join,
    never a single-task ordered scan."""
    from ..operators.relational import runs_test

    return runs_test(_docs(spark, sf_dir), F.col("lang") == "en")


_SQL_RUNS_TEST = """
WITH b0 AS (
  SELECT doc_id::bigint AS id,
    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint AS y
  FROM documents
),
bd AS (
  SELECT coalesce(sum(CASE WHEN a.y <> b.y THEN 1 ELSE 0 END),
                  0)::bigint AS b
  FROM b0 a JOIN b0 b ON a.id + 1 = b.id
),
t AS (SELECT sum(1 - y)::bigint AS n0, sum(y)::bigint AS n1 FROM b0)
SELECT n0, n1, (b + 1)::bigint AS n_runs,
  CASE WHEN n0 > 0 AND n1 > 0 AND n0 + n1 > 2 THEN
    floor((((b + 1)::double
            - (2.0 * n0::double * n1::double
               / (n0::double + n1::double) + 1))
           / sqrt((2.0 * n0::double * n1::double)
                  * (2.0 * n0::double * n1::double
                     - (n0::double + n1::double))
                  / ((n0::double + n1::double)
                     * (n0::double + n1::double)
                     * ((n0::double + n1::double) - 1))))
          * 1000000)::bigint
  ELSE 0 END AS z_micro
FROM bd, t
"""


# ---------------------------------------------------------------------------
# mcnemar_filters (round-4 session-15)
# ---------------------------------------------------------------------------


def q_mcnemar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test (relational.mcnemar_filters) of the
    char-length rule (n_chars >= 300) vs the token-count rule
    (>= 55 ws tokens) on the same documents — only the discordant
    cells drive the statistic; all-integer chi2_micro."""
    from ..operators.relational import mcnemar_filters
    from ..operators.textops import ws_tokens

    d = _docs(spark, sf_dir)
    return mcnemar_filters(
        d,
        F.col("n_chars") >= 300,
        F.size(ws_tokens(F.col("text"))) >= 55,
    )


_SQL_MCNEMAR_FILTERS = f"""
WITH flags AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
    CASE WHEN len({_TOKS}) >= 55 THEN 1 ELSE 0 END AS b
  FROM documents
),
agg AS (
  SELECT count(*)::bigint AS n,
    sum(a * b)::bigint AS n_both,
    sum(a * (1 - b))::bigint AS a_only,
    sum((1 - a) * b)::bigint AS b_only,
    sum((1 - a) * (1 - b))::bigint AS neither
  FROM flags
)
SELECT n, n_both, a_only, b_only, neither,
  CASE WHEN a_only + b_only > 0 AND abs(a_only - b_only) > 1 THEN
    ((abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1) * 1000000)
      // (a_only + b_only)
  ELSE 0 END::bigint AS chi2_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# emd_drift (round-4 session-15)
# ---------------------------------------------------------------------------


def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D earth-mover distance of each source's n_chars
    distribution vs the rest of the corpus over integer log2 buckets
    (relational.emd_drift) — decimal-exact cleared-denominator terms,
    one pinned final division."""
    from ..operators.relational import emd_drift

    return emd_drift(_docs(spark, sf_dir), "source", "n_chars")


_SQL_EMD_DRIFT = """
WITH gb AS (
  SELECT source AS g, length(bin(n_chars + 1))::bigint AS b,
    count(*)::bigint AS c
  FROM documents GROUP BY 1, 2
),
buckets AS (SELECT DISTINCT b FROM gb),
grp AS (SELECT g, sum(c)::bigint AS n_g FROM gb GROUP BY g),
tot AS (SELECT b, sum(c)::bigint AS t FROM gb GROUP BY b),
nn AS (SELECT sum(c)::bigint AS n_all FROM gb),
grid AS (
  SELECT grp.g, buckets.b, grp.n_g, nn.n_all - grp.n_g AS n_rest,
    coalesce(gb.c, 0)::bigint AS c_g,
    (tot.t - coalesce(gb.c, 0))::bigint AS c_rest
  FROM grp CROSS JOIN buckets
  LEFT JOIN gb ON gb.g = grp.g AND gb.b = buckets.b
  JOIN tot ON tot.b = buckets.b, nn
),
cum AS (
  SELECT g, n_g, n_rest,
    sum(c_g) OVER (PARTITION BY g ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cg,
    sum(c_rest) OVER (PARTITION BY g ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cr
  FROM grid
),
per AS (
  SELECT g, max(n_g)::bigint AS n_g, max(n_rest)::bigint AS n_rest,
    sum(abs(cg::hugeint * n_rest - cr::hugeint * n_g)) AS s
  FROM cum GROUP BY g
)
SELECT g AS source, n_g,
  floor(s::double / (n_g::double * n_rest::double) * 1000000)::bigint
    AS emd_micro
FROM per ORDER BY source
"""


# ---------------------------------------------------------------------------
# l_diversity
# ---------------------------------------------------------------------------


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census (relational.l_diversity) over the
    (source, 100-char length band) quasi-identifier with ``lang`` as the
    sensitive attribute — the homogeneity-attack audit that complements
    ``k_anonymity`` on the same metadata surface."""
    from ..operators.relational import l_diversity

    docs = _docs(spark, sf_dir).select(
        "source", "lang", (F.col("n_chars") / 100).cast("long").alias("band")
    )
    return l_diversity(docs, ["source", "band"], "lang", l_min=2)


_SQL_L_DIVERSITY = """
WITH g AS (
  SELECT source, n_chars // 100 AS band, count(*) AS n,
    count(DISTINCT lang) AS ld
  FROM documents GROUP BY 1, 2
)
SELECT source,
  sum(n)::bigint AS n_rows,
  count(*)::bigint AS n_groups,
  min(ld)::bigint AS min_l,
  sum(CASE WHEN ld < 2 THEN 1 ELSE 0 END)::bigint AS risky_groups,
  sum(CASE WHEN ld < 2 THEN n ELSE 0 END)::bigint AS risky_rows,
  floor(sum(CASE WHEN ld < 2 THEN n ELSE 0 END) * 1000000 / sum(n))::bigint
    AS risk_ppm
FROM g GROUP BY source
"""


# ---------------------------------------------------------------------------
# t_closeness (round-4 session-20)
# ---------------------------------------------------------------------------


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census (relational.t_closeness) over the
    (source, 100-char length band) quasi-identifier with ``lang`` as the
    sensitive attribute — completes the release-audit ladder
    k_anonymity -> l_diversity -> t_closeness on the same metadata
    surface: groups whose language MIX sits far (total variation, exact
    cleared-denominator integers) from the corpus-wide mix leak by skew
    even when large and diverse."""
    from ..operators.relational import t_closeness

    docs = _docs(spark, sf_dir).select(
        "source", "lang", (F.col("n_chars") / 100).cast("long").alias("band")
    )
    return t_closeness(docs, ["source", "band"], "lang", t_micro=300000)


_SQL_T_CLOSENESS = """
WITH cells AS (
  SELECT source, n_chars // 100 AS band, lang AS v, count(*)::bigint AS c
  FROM documents GROUP BY 1, 2, 3
),
vals AS (SELECT v, sum(c)::bigint AS tv FROM cells GROUP BY v),
tot AS (SELECT sum(tv)::bigint AS n FROM vals),
grp AS (SELECT source, band, sum(c)::bigint AS ng FROM cells GROUP BY 1, 2),
grid AS (
  SELECT g.source, g.band, g.ng, t.n, v.tv, coalesce(c.c, 0)::bigint AS c0
  FROM grp g CROSS JOIN tot t CROSS JOIN vals v
  LEFT JOIN cells c ON c.source = g.source AND c.band = g.band AND c.v = v.v
),
per AS (
  SELECT source, band, max(ng)::bigint AS ng, max(n)::bigint AS n,
    sum(abs(c0::hugeint * n - tv::hugeint * ng)) AS s
  FROM grid GROUP BY 1, 2
),
tm AS (
  SELECT source, ng,
    floor(s::double * 1000000
          / (2.0 * ng::double * n::double))::bigint AS tvm
  FROM per
)
SELECT source,
  sum(ng)::bigint AS n_rows,
  count(*)::bigint AS n_groups,
  max(tvm)::bigint AS max_t_micro,
  sum(CASE WHEN tvm > 300000 THEN 1 ELSE 0 END)::bigint AS risky_groups,
  sum(CASE WHEN tvm > 300000 THEN ng ELSE 0 END)::bigint AS risky_rows,
  floor(sum(CASE WHEN tvm > 300000 THEN ng ELSE 0 END) * 1000000
        / sum(ng))::bigint AS risk_ppm
FROM tm GROUP BY source
"""


# ---------------------------------------------------------------------------
# mann_whitney (round-4 session-20)
# ---------------------------------------------------------------------------


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between src0's and src1's length distributions
    (relational.mann_whitney) — exact tie-corrected integer rank sums
    off the bounded distinct-value table, one pinned IEEE z."""
    from ..operators.relational import mann_whitney

    return mann_whitney(_docs(spark, sf_dir), "n_chars", "src0", "src1")


_SQL_MANN_WHITNEY = """
WITH d AS (
  SELECT n_chars::bigint AS v,
    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia,
    CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS ib
  FROM documents WHERE source IN ('src0', 'src1')
),
dist AS (
  SELECT v, sum(ia)::bigint AS ca, sum(ib)::bigint AS cb FROM d GROUP BY v
),
cum AS (
  SELECT v, ca, cb, (ca + cb)::bigint AS c,
    coalesce(sum(ca + cb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS cumb
  FROM dist
),
a AS (
  SELECT sum(ca)::bigint AS n_a, sum(cb)::bigint AS n_b,
    sum(ca::hugeint * (2 * cumb + c + 1)) AS r2a,
    sum(c::hugeint * c * c - c) AS tie_t
  FROM cum
)
SELECT n_a, n_b,
  (r2a - n_a::hugeint * (n_a + 1))::bigint AS u2_a,
  tie_t AS tie_t,
  floor(((r2a - n_a::hugeint * (n_a + 1))::double
         - n_a::double * n_b::double)
        / sqrt(n_a::double * n_b::double / 3.0
               * ((n_a + n_b + 1)::double
                  - tie_t::double
                    / ((n_a + n_b)::double * (n_a + n_b - 1)::double)))
        * 1000000)::bigint AS z_micro
FROM a
"""


# ---------------------------------------------------------------------------
# fleiss_kappa (round-4 session-20)
# ---------------------------------------------------------------------------


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa per source (relational.fleiss_kappa) across three
    deterministic binary quality raters — length (n_chars >= 200) and
    two content rules — the multi-rater extension of
    ``filter_agreement``; fully rational until one pinned division."""
    from ..operators.relational import fleiss_kappa

    d = _docs(spark, sf_dir)
    return fleiss_kappa(
        d,
        [
            F.col("n_chars") >= 200,
            F.col("text").contains(" the "),
            F.col("text").contains(" a "),
        ],
    )


_SQL_FLEISS_KAPPA = """
WITH c AS (
  SELECT source,
    (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
     + CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END
     + CASE WHEN contains(text, ' a ') THEN 1 ELSE 0 END)::bigint AS k
  FROM documents
),
g AS (
  SELECT source, count(*)::bigint AS n, sum(k)::bigint AS s,
    sum(k * k + (3 - k) * (3 - k) - 3)::bigint AS q
  FROM c GROUP BY source
)
SELECT source, n AS n_docs, 3::bigint AS m_raters, s AS keep_votes,
  CASE WHEN 9 * n::hugeint * n
            - (s::hugeint * s + (3 * n - s)::hugeint * (3 * n - s)) = 0
  THEN 1000000::bigint
  ELSE floor((q::hugeint * 9 * n * n
         - n::hugeint * 6
           * (s::hugeint * s + (3 * n - s)::hugeint * (3 * n - s)))::double
        * 1000000
        / (n::hugeint * 6
           * (9 * n::hugeint * n
              - (s::hugeint * s
                 + (3 * n - s)::hugeint * (3 * n - s))))::double)::bigint
  END AS kappa_micro
FROM g
"""


# ---------------------------------------------------------------------------
# shannon_diversity (round-4 session-20)
# ---------------------------------------------------------------------------


def q_shannon_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + Pielou evenness of the language mix per source
    (relational.shannon_diversity) — the log-scaled companion to
    ``simpson_diversity``; all ln() terms on the bounded census table
    with the theil_index rounding discipline."""
    from ..operators.relational import shannon_diversity

    return shannon_diversity(_docs(spark, sf_dir), "source", "lang")


_SQL_SHANNON_DIVERSITY = """
WITH cells AS (
  SELECT source, lang AS c, count(*)::bigint AS n
  FROM documents GROUP BY 1, 2
),
per AS (
  SELECT source, sum(n)::bigint AS n_docs, count(*)::bigint AS n_cats,
    sum(n::decimal(18,0) * round(ln(n::double), 6)::decimal(18,6)) AS s
  FROM cells GROUP BY source
)
SELECT source, n_docs, n_cats,
  floor((round(ln(n_docs::double), 6) - s::double / n_docs::double)
        * 1000000)::bigint AS shannon_micro,
  CASE WHEN n_cats > 1 THEN
    floor((round(ln(n_docs::double), 6) - s::double / n_docs::double)
          / round(ln(n_cats::double), 6) * 1000000)::bigint
  ELSE 0 END AS evenness_micro
FROM per
"""


# ---------------------------------------------------------------------------
# peak_concurrency (round-4 session-20)
# ---------------------------------------------------------------------------


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak-concurrency histogram over per-event session
    intervals (relational.peak_concurrency) — max simultaneous open
    intervals per user, the shape that audits concurrent fetches per
    crawler slot; half-open [t, t+dur) semantics pinned by the
    (t, delta) endpoint ordering."""
    from ..operators.relational import peak_concurrency

    _utc(spark)
    return peak_concurrency(_tbl(spark, sf_dir, "events"))


_SQL_PEAK_CONCURRENCY = """
WITH pts AS (
  SELECT user_id AS u, floor(epoch(ts))::bigint AS t, 1::bigint AS d
  FROM events
  UNION ALL
  SELECT user_id, floor(epoch(ts))::bigint + 60 + event_id % 240,
    (-1)::bigint
  FROM events
),
r AS (
  SELECT u,
    sum(d) OVER (PARTITION BY u ORDER BY t, d
                 ROWS UNBOUNDED PRECEDING)::bigint AS run
  FROM pts
),
p AS (SELECT u, max(run)::bigint AS peak FROM r GROUP BY u)
SELECT peak, count(*)::bigint AS n_users
FROM p GROUP BY peak ORDER BY peak
"""


# ---------------------------------------------------------------------------
# quantile_sketch_merge (round-4 session-20)
# ---------------------------------------------------------------------------


def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable exact quantile sketches (relational.quantile_sketch /
    merge_quantile_sketches / quantiles_from_sketch): state = docs with
    doc_id % 3 != 0, batch = the rest; quantiles read off the MERGED
    sketch must equal the full-corpus exact quantiles — which is what
    the oracle states, so parity PROVES the count-sum merge is exact
    (the bounded-domain sibling of KLL/t-digest mergeability)."""
    from ..operators.relational import (
        merge_quantile_sketches,
        quantile_sketch,
        quantiles_from_sketch,
    )

    d = _docs(spark, sf_dir)
    state = quantile_sketch(d.where(F.col("doc_id") % 3 != 0), "source", "n_chars")
    batch = quantile_sketch(d.where(F.col("doc_id") % 3 == 0), "source", "n_chars")
    return quantiles_from_sketch(merge_quantile_sketches(state, batch))


_SQL_QUANTILE_SKETCH_MERGE = """
WITH dist AS (
  SELECT source AS grp, n_chars AS val, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT grp, val,
    sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n_rows
  FROM dist
)
SELECT grp AS source, max(n_rows)::bigint AS n_rows,
  min(CASE WHEN cum >= (500000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_500000,
  min(CASE WHEN cum >= (900000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_900000,
  min(CASE WHEN cum >= (990000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_990000
FROM cum GROUP BY grp
"""


# ---------------------------------------------------------------------------
# concentration_indices / psi_drift / brier_score (round-4 session-20)
# ---------------------------------------------------------------------------


def q_concentration_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration battery (relational.concentration_indices): HHI,
    normalized HHI and mean-log-deviation of the per-host document
    distribution — the merger-review companions to host_gini/theil_index
    on the same bounded distribution table."""
    from ..operators.relational import concentration_indices

    return concentration_indices(_docs(spark, sf_dir))


_SQL_CONCENTRATION_INDICES = """
WITH c AS (SELECT source, count(*)::bigint AS x FROM documents GROUP BY 1),
d AS (SELECT x, count(*)::bigint AS m FROM c GROUP BY x),
a AS (
  SELECT sum(m)::bigint AS n, sum(m * x)::bigint AS t,
    sum(m::hugeint * x * x) AS sx2,
    sum(m::decimal(18,0)
        * round(ln(x::double), 6)::decimal(18,6)) AS slnx
  FROM d
)
SELECT n AS n_hosts, t AS n_docs,
  floor(sx2::double * 1000000 / (t::double * t::double))::bigint
    AS hhi_micro,
  CASE WHEN n > 1 THEN
    floor((sx2 * n - t::hugeint * t)::double * 1000000
          / ((t::hugeint * t) * (n - 1))::double)::bigint
  ELSE -1 END AS hhi_norm_micro,
  floor((round(ln(t::double / n::double), 6) - slnx::double / n::double)
        * 1000000)::bigint AS mld_micro
FROM a
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source (relational.psi_drift)
    between the corpus and a +18-chars snapshot (the quantile_drift
    shift) over log2 length buckets — the industry drift monitor
    (0.1 warn / 0.25 act) beside KL/EMD/KS/CvM."""
    from ..operators.relational import psi_drift

    a = _docs(spark, sf_dir).select("source", "n_chars")
    b = _docs(spark, sf_dir).select(
        "source", (F.col("n_chars") + 18).alias("n_chars")
    )
    return psi_drift(a, b)


_SQL_PSI_DRIFT = """
WITH a AS (
  SELECT source AS grp, length(bin(n_chars + 1))::bigint AS bkt,
    count(*)::bigint AS ca
  FROM documents GROUP BY 1, 2
),
bb AS (
  SELECT source AS grp, length(bin(n_chars + 18 + 1))::bigint AS bkt,
    count(*)::bigint AS cb
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT coalesce(a.grp, bb.grp) AS grp, coalesce(a.bkt, bb.bkt) AS bkt,
    coalesce(ca, 0)::bigint AS ca, coalesce(cb, 0)::bigint AS cb
  FROM a FULL OUTER JOIN bb ON a.grp = bb.grp AND a.bkt = bb.bkt
),
per AS (
  SELECT grp, sum(ca)::bigint AS na, sum(cb)::bigint AS nb,
    count(*)::bigint AS k
  FROM grid GROUP BY grp
),
j AS (
  SELECT g.grp, (ca + 1)::bigint AS sa, (cb + 1)::bigint AS sb,
    (na + k)::bigint AS ma, (nb + k)::bigint AS mb
  FROM grid g JOIN per p ON p.grp = g.grp
),
t AS (
  SELECT grp, max(ma) AS ma, max(mb) AS mb,
    sum(round((sa::hugeint * mb - sb::hugeint * ma)::double
        * round(ln((sa::double * mb::double)
                   / (sb::double * ma::double)), 6), 6)
        ::decimal(28,6)) AS s
  FROM j GROUP BY grp
)
SELECT grp AS source, ma::bigint AS m_a, mb::bigint AS m_b,
  floor(s::double * 1000000 / (ma::double * mb::double))::bigint
    AS psi_micro
FROM t
"""


def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier calibration score per source (textops.brier_score) of the
    stopword-share probability against the contains-' the ' label —
    all-integer squared error in ppm, one pinned final division."""
    from ..operators.textops import brier_score

    return brier_score(_docs(spark, sf_dir))


_SQL_BRIER_SCORE = f"""
WITH d AS (
  SELECT source,
    CASE WHEN len({_TOKS}) > 0
      THEN (len(list_filter({_TOKS},
             t -> t IN ('the','a','of','and','is','to','in','that','it',
                        'for'))) * 1000000) // len({_TOKS})
      ELSE 0 END AS p_ppm,
    CASE WHEN contains(text, ' the ') THEN 1000000 ELSE 0 END AS y_ppm
  FROM documents
)
SELECT source, count(*)::bigint AS n_docs,
  floor(sum(p_ppm) / count(*))::bigint AS mean_p_ppm,
  floor(sum(y_ppm // 1000000) * 1000000 / count(*))::bigint
    AS pos_rate_ppm,
  floor(sum((p_ppm - y_ppm)::hugeint * (p_ppm - y_ppm))::double
        / (count(*)::double * 1000000.0))::bigint AS brier_micro
FROM d GROUP BY source
"""


# ---------------------------------------------------------------------------
# range_partition_audit (round-4 session-20)
# ---------------------------------------------------------------------------


def q_range_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner layout audit (relational.range_partition_audit)
    over doc lengths at p25/p50/p75 split points — exact sketch-derived
    thresholds (the deterministic version of Spark's reservoir-sampled
    RangePartitioner), per-range counts and min/max proving
    non-overlap."""
    from ..operators.relational import range_partition_audit

    return range_partition_audit(_docs(spark, sf_dir))


_SQL_RANGE_PARTITION_AUDIT = """
WITH dist AS (
  SELECT n_chars::bigint AS v, count(*)::bigint AS c
  FROM documents GROUP BY 1
),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
  FROM dist
),
th AS (
  SELECT
    min(CASE WHEN cum >= (250000 * n + 999999) // 1000000
          THEN v END)::bigint AS t25,
    min(CASE WHEN cum >= (500000 * n + 999999) // 1000000
          THEN v END)::bigint AS t50,
    min(CASE WHEN cum >= (750000 * n + 999999) // 1000000
          THEN v END)::bigint AS t75
  FROM cum
)
SELECT (CASE WHEN d.n_chars < t25 THEN 0
             WHEN d.n_chars < t50 THEN 1
             WHEN d.n_chars < t75 THEN 2
             ELSE 3 END)::bigint AS range_id,
  count(*)::bigint AS n_rows,
  min(d.n_chars)::bigint AS min_v,
  max(d.n_chars)::bigint AS max_v
FROM documents d, th GROUP BY 1
"""


# name -> (Spark callable, DuckDB oracle SQL or None); the driver order
# lives in registry/order.py.
QUERIES = {
    "k_anonymity": (q_k_anonymity, _SQL_K_ANONYMITY),
    "functional_dependencies": (q_functional_dependencies, _sql_functional_dependencies()),
    "winsorized_stats": (q_winsorized_stats, _SQL_WINSORIZED_STATS),
    "url_templates": (q_url_templates, _SQL_URL_TEMPLATES),
    "degree_assortativity": (q_degree_assortativity, _SQL_DEGREE_ASSORTATIVITY),
    "ann_recall_eval": (q_ann_recall_eval, _sql_ann_recall_eval()),
    "rank_fusion": (q_rank_fusion, _sql_rank_fusion()),
    "temperature_mixture": (q_temperature_mixture, _SQL_TEMPERATURE_MIXTURE),
    "robots_drift": (q_robots_drift, _SQL_ROBOTS_DRIFT),
    "ivf_admission": (q_ivf_admission, _SQL_IVF_ADMISSION),
    "centroid_drift": (q_centroid_drift, _SQL_CENTROID_DRIFT),
    "filter_agreement": (q_filter_agreement, _SQL_FILTER_AGREEMENT),
    "epoch_plan": (q_epoch_plan, _SQL_EPOCH_PLAN),
    "rollup_merge": (q_rollup_merge, _SQL_ROLLUP_MERGE),
    "robots_wildcards": (q_robots_wildcards, _SQL_ROBOTS_WILDCARDS),
    "bootstrap_ci": (q_bootstrap_ci, _sql_bootstrap_ci()),
    "linreg_train": (q_linreg_train, _SQL_LINREG_TRAIN),
    "logreg_train_gd": (q_logreg_train_gd, _SQL_LOGREG_TRAIN_GD),
    "byte_fertility": (q_byte_fertility, _SQL_BYTE_FERTILITY),
    "filter_ensemble": (q_filter_ensemble, _sql_filter_ensemble()),
    "percentile_normalize": (q_percentile_normalize, _SQL_PERCENTILE_NORMALIZE),
    "neyman_allocation": (q_neyman_allocation, _SQL_NEYMAN_ALLOCATION),
    "crossval_ols": (q_crossval_ols, _SQL_CROSSVAL_OLS),
    "threshold_select": (q_threshold_select, _SQL_THRESHOLD_SELECT),
    "ks_statistic": (q_ks_statistic, _SQL_KS_STATISTIC),
    "auc_exact": (q_auc_exact, _SQL_AUC_EXACT),
    "quality_residuals": (q_quality_residuals, _SQL_QUALITY_RESIDUALS),
    "log2_histogram": (q_log2_histogram, _SQL_LOG2_HISTOGRAM),
    "kendall_tau": (q_kendall_tau, _SQL_KENDALL_TAU),
    "spearman_rho": (q_spearman_rho, _SQL_SPEARMAN_RHO),
    "mrr_eval": (q_mrr_eval, _sql_mrr_eval()),
    "avg_precision": (q_avg_precision, _SQL_AVG_PRECISION),
    "rbo_overlap": (q_rbo_overlap, _sql_rbo_overlap()),
    "hill_tail_index": (q_hill_tail_index, _SQL_HILL_TAIL_INDEX),
    "simpson_diversity": (q_simpson_diversity, _SQL_SIMPSON_DIVERSITY),
    "welch_ttest": (q_welch_ttest, _SQL_WELCH_TTEST),
    "cvm_statistic": (q_cvm_statistic, _SQL_CVM_STATISTIC),
    "reliability_bins": (q_reliability_bins, _SQL_RELIABILITY_BINS),
    "waterfill_allocation": (q_waterfill_allocation, _SQL_WATERFILL_ALLOCATION),
    "otsu_threshold": (q_otsu_threshold, _SQL_OTSU_THRESHOLD),
    "benford_deviation": (q_benford_deviation, _sql_benford_deviation()),
    "runs_test": (q_runs_test, _SQL_RUNS_TEST),
    "mcnemar_filters": (q_mcnemar_filters, _SQL_MCNEMAR_FILTERS),
    "emd_drift": (q_emd_drift, _SQL_EMD_DRIFT),
    "l_diversity": (q_l_diversity, _SQL_L_DIVERSITY),
    "t_closeness": (q_t_closeness, _SQL_T_CLOSENESS),
    "mann_whitney": (q_mann_whitney, _SQL_MANN_WHITNEY),
    "fleiss_kappa": (q_fleiss_kappa, _SQL_FLEISS_KAPPA),
    "shannon_diversity": (q_shannon_diversity, _SQL_SHANNON_DIVERSITY),
    "peak_concurrency": (q_peak_concurrency, _SQL_PEAK_CONCURRENCY),
    "quantile_sketch_merge": (q_quantile_sketch_merge, _SQL_QUANTILE_SKETCH_MERGE),
    "concentration_indices": (q_concentration_indices, _SQL_CONCENTRATION_INDICES),
    "psi_drift": (q_psi_drift, _SQL_PSI_DRIFT),
    "brier_score": (q_brier_score, _SQL_BRIER_SCORE),
    "range_partition_audit": (q_range_partition_audit, _SQL_RANGE_PARTITION_AUDIT),
}
