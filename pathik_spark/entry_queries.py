"""Dual-dialect (Spark SQL + DuckDB) query definitions for the driver's
correctness gate (__spark_entry__.py).

Each query is ONE SQL template rendered for both engines through a small
dialect macro table, so the engine's operator semantics (URL kernels,
dedup, ANN, text analysis, scheduling windows) are verified cross-engine
bit-for-bit (hashes, strings, ints) or to 1e-6 (rounded doubles). URLs
for the crawl-kernel queries are synthesized deterministically from the
TPC-ish driver tables *inside the SQL*, so both engines see identical
inputs.

Dialect gotchas handled centrally:
- Spark SQL string literals process backslash escapes; DuckDB's are raw
  -> every pattern/literal goes through the dialect's LIT.
- DuckDB regexp_replace is first-match unless 'g'; Spark's is global
  -> RE_REPLACE macro adds 'g' on the DuckDB side.
- Spark has no bare VARCHAR type -> STRING (both engines accept it).
"""

from __future__ import annotations

# --- dialect macro tables ----------------------------------------------------


def _spark_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _duck_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


SPARK = {
    "NAME": "spark",
    "LIT": _spark_lit,
    "RLIKE": lambda c, p: f"({c} RLIKE {_spark_lit(p)})",
    "RECOUNT": lambda c, p: f"regexp_count({c}, {_spark_lit(p)})",
    "RE_REPLACE": lambda c, p, r: f"regexp_replace({c}, {_spark_lit(p)}, {_spark_lit(r)})",
    "RE_EXTRACT": lambda c, p, i: f"regexp_extract({c}, {_spark_lit(p)}, {i})",
    "HASH60": lambda x: f"CAST(conv(substring(md5({x}),1,15),16,10) AS BIGINT)",
    "DATEFMT": lambda ts: f"date_format({ts}, 'yyyy-MM-dd')",
    "SPLIT_WS": lambda s: f"split({s}, ' ')",
    "POSEXPLODE_FROM": lambda src, arr: (
        f"SELECT doc_id, pos, tok FROM {src} "
        f"LATERAL VIEW posexplode({arr}) t AS pos, tok"
    ),
    "LIST_SORT": lambda a: f"sort_array({a})",
    "LIST_JOIN": lambda a, sep: f"array_join({a}, '{sep}')",
    "LIST_FILTER": lambda a, lam: f"filter({a}, {lam})",
    "SHR": lambda x, b: f"shiftright({x}, {b})",
    "ARRLEN": lambda a: f"size({a})",
    "UNNEST_IDX": lambda src, arr: (
        f"SELECT vec_id, pos, CAST(v AS DOUBLE) AS v FROM {src} "
        f"LATERAL VIEW posexplode({arr}) t AS pos, v"
    ),
}

DUCK = {
    "NAME": "duck",
    "LIT": _duck_lit,
    "RLIKE": lambda c, p: f"regexp_matches({c}, {_duck_lit(p)})",
    "RECOUNT": lambda c, p: f"len(regexp_extract_all({c}, {_duck_lit(p)}))",
    "RE_REPLACE": lambda c, p, r: f"regexp_replace({c}, {_duck_lit(p)}, {_duck_lit(r)}, 'g')",
    # DuckDB regexp_extract -> NULL on no match; Spark -> '' — align on ''
    "RE_EXTRACT": lambda c, p, i: f"coalesce(regexp_extract({c}, {_duck_lit(p)}, {i}), '')",
    "HASH60": lambda x: f"CAST(('0x' || substr(md5({x}),1,15)) AS BIGINT)",
    "DATEFMT": lambda ts: f"strftime({ts}, '%Y-%m-%d')",
    "SPLIT_WS": lambda s: f"string_split({s}, ' ')",
    "POSEXPLODE_FROM": lambda src, arr: (
        f"SELECT doc_id, generate_subscripts({arr},1)-1 AS pos, unnest({arr}) AS tok FROM {src}"
    ),
    "LIST_SORT": lambda a: f"list_sort({a})",
    # DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
    "LIST_JOIN": lambda a, sep: f"coalesce(array_to_string({a}, '{sep}'), '')",
    "LIST_FILTER": lambda a, lam: f"list_filter({a}, {lam})",
    "SHR": lambda x, b: f"({x} >> {b})",
    "ARRLEN": lambda a: f"len({a})",
    "UNNEST_IDX": lambda src, arr: (
        f"SELECT vec_id, generate_subscripts({arr},1)-1 AS pos, "
        f"CAST(unnest({arr}) AS DOUBLE) AS v FROM {src}"
    ),
}


def _norm_text(d, col: str) -> str:
    return f"trim({d['RE_REPLACE'](f'lower({col})', chr(92) + 's+', ' ')})"


# deterministic URL synthesis from orders — identical text in both dialects;
# exercises valid/invalid/port/query/fragment strata (SURVEY.md §2.2 F1, §2.9 B1)
URLS_CTE = """
urls_cte AS (
  SELECT o_orderkey AS id,
    CASE
      WHEN o_orderkey % 13 = 0 THEN 'https://192.168.1.' || CAST(o_orderkey % 250 + 1 AS STRING) || '/x'
      WHEN o_orderkey % 17 = 0 THEN 'ftp://host' || CAST(o_orderkey % 40 AS STRING) || '.example/p'
      WHEN o_orderkey % 19 = 0 THEN 'https://localhost/p' || CAST(o_orderkey AS STRING)
      WHEN o_orderkey % 7 = 0 THEN 'HTTPS://Host' || CAST(o_orderkey % 40 AS STRING) || '.Example:443/sec' || CAST(o_custkey % 7 AS STRING) || '/page' || CAST(o_orderkey AS STRING) || '?b=2&utm_source=x&a=1#frag'
      WHEN o_orderkey % 5 = 0 THEN 'https://host' || CAST(o_orderkey % 40 AS STRING) || '.example:8080/sec' || CAST(o_custkey % 7 AS STRING) || '/page' || CAST(o_orderkey AS STRING)
      WHEN o_orderkey % 11 = 0 THEN 'https://host' || CAST(o_orderkey % 40 AS STRING) || '.example'
      ELSE 'https://host' || CAST(o_orderkey % 40 AS STRING) || '.example/sec' || CAST(o_custkey % 7 AS STRING) || '/page' || CAST(o_orderkey AS STRING)
    END AS url,
    o_orderdate, o_custkey
  FROM orders
)
"""

def _netloc_of(col: str) -> str:
    return f"regexp_extract({col}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)"


def _path_of(col: str) -> str:
    return f"regexp_extract({col}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"


_NETLOC = _netloc_of("url")
_PATH = _path_of("url")


def _host(d, col: str = "url") -> str:
    no_user = d["RE_REPLACE"](_netloc_of(col), "^[^@]*@", "")
    no_port = d["RE_REPLACE"](no_user, ":[0-9]*$", "")
    return f"lower({no_port})"


def _trimpath(d) -> str:
    return d["RE_REPLACE"](_PATH, "^/+|/+$", "")


def _valid_pred(d) -> str:
    host = _host(d)
    return (
        f"({d['RLIKE']('url', '^(?i)https?://')} AND {host} <> '' "
        f"AND {host} <> 'localhost' AND NOT ("
        + d["RLIKE"](host, r"^\d{1,3}(\.\d{1,3}){3}$")
        + " AND "
        + d["RLIKE"](host, r"^(127\.|10\.|192\.168\.|169\.254\.|172\.(1[6-9]|2[0-9]|3[01])\.)")
        + "))"
    )


def _domain_name(d) -> str:
    host, trimmed = _host(d), _trimpath(d)
    return (
        f"CASE WHEN {host} = '' THEN 'unknown' "
        f"WHEN {trimmed} = '' THEN replace({host}, '.', '_') "
        f"ELSE replace({host}, '.', '_') || '_' || replace({trimmed}, '/', '_') END"
    )


# --- query templates ---------------------------------------------------------

def q_tpch_q1(d):
    # integer-cents sums: per-term doubles are IEEE-identical across
    # engines, so term-level rounding is exact; post-sum ROUND would sit
    # on add-order-sensitive boundaries. The OUTER cast pins the result
    # type: DuckDB promotes SUM(BIGINT) to HUGEINT, Spark stays BIGINT,
    # and the driver's hash compare is typed.
    qty_c = "CAST(ROUND(l_quantity * 100) AS BIGINT)"
    base_c = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    disc_c = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    return f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({qty_c}) AS BIGINT) AS sum_qty_cents,
       CAST(SUM({base_c}) AS BIGINT) AS sum_base_price_cents,
       CAST(SUM({disc_c}) AS BIGINT) AS sum_disc_price_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_agg(d):
    # TPC-H Q3-ish: revenue per order over a 3-way join. Money sums in
    # integer cents: the per-term double product is IEEE-identical across
    # engines, so rounding each term to cents BEFORE the sum removes the
    # cross-engine add-order sensitivity a post-sum ROUND would have.
    cents = "CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)"
    return f"""
SELECT o.o_orderkey AS orderkey,
       CAST(SUM({cents}) AS BIGINT) AS revenue_cents,
       c.c_mktsegment AS mktsegment
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY o.o_orderkey, c.c_mktsegment
HAVING SUM({cents}) > 100000
"""


def q_seen_antijoin(d):
    # J3 URL-seen semantics on TPC keys: customers with no final orders
    return """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
"""


def q_url_seen_antijoin(d):
    # J3 over synthesized URLs: frontier minus seen (seen = id % 3 = 0)
    return f"""
WITH {URLS_CTE},
frontier AS (SELECT id, url FROM urls_cte WHERE {_valid_pred(d)}),
seen AS (SELECT {d['HASH60']('url')} AS url_hash FROM urls_cte WHERE id % 3 = 0)
SELECT f.id AS id, f.url AS url FROM frontier f
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url_hash = {d['HASH60']('f.url')})
"""


def q_url_validate(d):
    return f"""
WITH {URLS_CTE}
SELECT id, url, CASE WHEN {_valid_pred(d)} THEN 1 ELSE 0 END AS is_valid
FROM urls_cte
"""


def q_url_domain(d):
    # X1 GetDomainName (crawler.go:252-265) as portable SQL
    return f"""
WITH {URLS_CTE}
SELECT id, url, {_domain_name(d)} AS domain_name
FROM urls_cte
"""


def q_url_sanitize(d):
    # X2 SanitizeURL (storage.go:79-119): netloc+path, unsafe->_, ..->_, <=200
    from pathik_spark.kernels.canonical import UNSAFE_CHARS as unsafe_from

    trimmed = _trimpath(d)
    combined = (
        f"CASE WHEN {trimmed} = '' THEN {_NETLOC} "
        f"ELSE {_NETLOC} || '_' || {trimmed} END"
    )
    return f"""
WITH {URLS_CTE}
SELECT id, url,
  substring(replace(translate({combined}, {d['LIT'](unsafe_from)}, '{'_' * 30}'), '..', '_'), 1, 200) AS sanitized
FROM urls_cte
"""


def q_filename_assembly(d):
    # X3: {domain}_{yyyy-MM-dd}.{html|md} from o_orderdate (never wall clock)
    domain = _domain_name(d)
    return f"""
WITH {URLS_CTE}
SELECT id,
  {domain} || '_' || {d['DATEFMT']('o_orderdate')} || '.html' AS filename_html,
  {domain} || '_' || {d['DATEFMT']('o_orderdate')} || '.md' AS filename_md
FROM urls_cte
"""


def _canonical_expr(d, col: str = "url") -> str:
    # B1 canonicalization, SQL-expressible subset (no dot-segments in these
    # URLs): lowercase scheme+host, strip default port, drop fragment, strip
    # tracking params, sort surviving params.
    no_frag = d["RE_REPLACE"](col, "#.*$", "")
    scheme = f"lower({d['RE_EXTRACT'](no_frag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)})"
    netloc_nf = d["RE_EXTRACT"](no_frag, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    host_nf = f"lower({d['RE_REPLACE'](d['RE_REPLACE'](netloc_nf, '^[^@]*@', ''), ':[0-9]*$', '')})"
    port = d["RE_EXTRACT"](netloc_nf, ":([0-9]+)$", 1)
    path_nf = d["RE_EXTRACT"](no_frag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = d["RE_EXTRACT"](no_frag, r"\?([^#]*)$", 1)
    kept = d["LIST_FILTER"](
        d["SPLIT_WS"](f"replace({query}, '&', ' ')"),
        "x -> NOT (x LIKE 'utm_%' OR x LIKE 'fbclid=%' OR x LIKE 'gclid=%' OR x = '')",
    )
    sorted_q = d["LIST_JOIN"](d["LIST_SORT"](kept), "&")
    canon_netloc = (
        f"CASE WHEN {port} = '' THEN {host_nf} "
        f"WHEN ({scheme} = 'https' AND {port} = '443') OR ({scheme} = 'http' AND {port} = '80') THEN {host_nf} "
        f"ELSE {host_nf} || ':' || {port} END"
    )
    canon_path = f"CASE WHEN {path_nf} = '' THEN '/' ELSE {path_nf} END"
    return (
        f"{scheme} || '://' || {canon_netloc} || {canon_path} || "
        f"CASE WHEN {sorted_q} = '' THEN '' ELSE '?' || {sorted_q} END"
    )


def q_url_canonicalize(d):
    return f"""
WITH {URLS_CTE}
SELECT id, url, {_canonical_expr(d)} AS canonical
FROM urls_cte
WHERE {_valid_pred(d)}
"""


def q_priority_window(d):
    # W1/W4 priority-queue ranking semantics on the events table
    return """
SELECT user_id, event_id, rnk FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rnk
  FROM events
) t WHERE rnk <= 5
"""


def q_host_budget(d):
    # W2/B4 budget semantics: per-key cap with deterministic overflow count
    return """
SELECT user_id,
       COUNT(*) AS n_events,
       CASE WHEN COUNT(*) > 10 THEN COUNT(*) - 10 ELSE 0 END AS deferred
FROM events GROUP BY user_id
"""


def q_host_metrics(d):
    # A3 per-host fetch-metrics shape over events (integer-scaled sums)
    v_c = "CAST(ROUND(value * 10000) AS BIGINT)"
    return f"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM({v_c}) AS BIGINT) AS total_value_e4,
       COUNT(CASE WHEN value < 0 THEN 1 END) AS n_negative
FROM events GROUP BY event_type
"""


def q_frontier_union_dedup(d):
    # §2.7 frontier ∪ discovered with dedup
    return """
SELECT k FROM (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0
  UNION
  SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey % 3 = 0
) t
"""


def q_retry_attempts(d):
    # W3 retry semantics: attempt counting with cap 3 (crawler.go:33)
    return """
SELECT attempt, COUNT(*) AS n FROM (
  SELECT o_orderkey, CAST(o_orderkey % 5 AS INT) AS raw_attempt,
         CASE WHEN o_orderkey % 5 < 3 THEN CAST(o_orderkey % 5 AS INT) ELSE 2 END AS attempt
  FROM orders
) t GROUP BY attempt
"""


def q_manifest_rollup(d):
    # A1 result-dict rollup shape over documents
    return """
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
"""


def q_exact_dedup(d):
    norm = _norm_text(d, "text")
    return f"""
SELECT doc_id, content_hash,
       COUNT(*) OVER (PARTITION BY content_hash) AS group_size,
       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY content_hash) THEN 1 ELSE 0 END AS is_canonical
FROM (SELECT doc_id, md5({norm}) AS content_hash FROM documents) t
"""


def _tokens_cte(d, src: str = "documents", where: str = "") -> str:
    norm = _norm_text(d, "text")
    base = f"SELECT doc_id, {d['SPLIT_WS'](norm)} AS toks FROM {src} {where}"
    return f"toks_cte AS ({base}), tokens AS ({d['POSEXPLODE_FROM']('toks_cte', 'toks')})"


def q_ngram_jaccard(d):
    # word-2-gram Jaccard via pure relational ops, both engines
    return f"""
WITH {_tokens_cte(d, where="WHERE doc_id < 150")},
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS shingle
  FROM tokens a JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) >= 0.2
"""


def q_minhash_signature(d):
    # B2-adjacent MinHash over word 3-grams, 4 portable hash slots
    h = lambda i: d["HASH60"](f"'{i}:' || shingle")
    return f"""
WITH {_tokens_cte(d, where="WHERE doc_id < 200")},
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM tokens a
  JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tokens c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
)
SELECT doc_id,
  MIN({h(0)}) AS h0, MIN({h(1)}) AS h1, MIN({h(2)}) AS h2, MIN({h(3)}) AS h3
FROM shingles GROUP BY doc_id
"""


def q_simhash16(d):
    # 16-bit portable SimHash: per-token hash, ±1 bit sums, sign -> bits
    h = d["HASH60"]("tok")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({d['SHR'](h, b)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    fp = " + ".join(f"(CASE WHEN b{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16))
    return f"""
WITH {_tokens_cte(d, where="WHERE doc_id < 200")},
sums AS (SELECT doc_id, {bit_sums} FROM tokens WHERE tok <> '' GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash16 FROM sums
"""


_COS_CTE = """
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         SUM(q.v * c.v) AS dot,
         SQRT(SUM(q.v * q.v)) AS nq,
         SQRT(SUM(c.v * c.v)) AS nc
  FROM qvecs q JOIN cvecs c ON q.pos = c.pos
  WHERE q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
"""


def q_ann_cosine_topk(d):
    qsrc = d["UNNEST_IDX"]("(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) s", "embedding")
    csrc = d["UNNEST_IDX"]("(SELECT vec_id, embedding FROM embeddings) s", "embedding")
    return f"""
WITH qvecs AS ({qsrc}), cvecs AS ({csrc}), {_COS_CTE}
SELECT query_id, vec_id, score, rnk FROM (
  SELECT query_id, vec_id, ROUND(dot / (nq * nc), 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(dot / (nq * nc), 6) DESC, vec_id) AS rnk
  FROM pairs
) t WHERE rnk <= 5
"""


def q_embedding_neardup(d):
    qsrc = d["UNNEST_IDX"]("(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120) s", "embedding")
    csrc = d["UNNEST_IDX"]("(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120) s", "embedding")
    return f"""
WITH qvecs AS ({qsrc}), cvecs AS ({csrc}), {_COS_CTE}
SELECT query_id AS id_a, vec_id AS id_b, ROUND(dot / (nq * nc), 6) AS score
FROM pairs WHERE query_id < vec_id AND ROUND(dot / (nq * nc), 6) >= 0.25
"""


def q_lang_id(d):
    from pathik_spark.functions.text_constants import JA_CLASS, LANG_MARKERS

    counts = {k: d["RECOUNT"]("lower(text)", p) for k, p in LANG_MARKERS.items()}
    ja = d["RECOUNT"]("text", JA_CLASS)
    best = (
        f"CASE WHEN {ja} > 0 THEN 'ja' "
        f"WHEN {counts['de']} > 0 AND {counts['de']} >= {counts['en']} AND {counts['de']} >= {counts['es']} AND {counts['de']} >= {counts['fr']} THEN 'de' "
        f"WHEN {counts['en']} > 0 AND {counts['en']} >= {counts['es']} AND {counts['en']} >= {counts['fr']} THEN 'en' "
        f"WHEN {counts['es']} > 0 AND {counts['es']} >= {counts['fr']} THEN 'es' "
        f"WHEN {counts['fr']} > 0 THEN 'fr' "
        f"ELSE 'und' END"
    )
    return f"SELECT doc_id, {best} AS lang_guess FROM documents"


def _quality_expr(d) -> str:
    """The quality_score heuristic as one dialect-rendered expression
    (shared by q_quality_score and duck_host_quality_sql)."""
    from pathik_spark.functions.text_constants import LANG_MARKERS, PUNCT_CLASS

    n_chars = "CAST(length(text) AS DOUBLE)"
    norm = _norm_text(d, "text")
    arrlen = d["ARRLEN"](d["SPLIT_WS"](norm))
    punct_count = d["RECOUNT"]("text", PUNCT_CLASS)
    stop_count = d["RECOUNT"]("lower(text)", LANG_MARKERS["en"])
    n_tokens = f"CAST(CASE WHEN {norm} = '' THEN 0 ELSE {arrlen} END AS DOUBLE)"
    n_punct = f"CAST({punct_count} AS DOUBLE)"
    n_stop = f"CAST({stop_count} AS DOUBLE)"
    len_score = f"LEAST({n_chars} / 500.0, 1.0)"
    punct_score = f"GREATEST(0.0, 1.0 - ({n_punct} / ({n_chars} + 1.0)) * 5.0)"
    stop_score = f"LEAST({n_stop} * 10.0 / ({n_tokens} + 1.0), 1.0)"
    mean_wlen = f"(({n_chars} + 1.0) / ({n_tokens} + 1.0))"
    wlen_score = f"CASE WHEN {mean_wlen} >= 3.0 AND {mean_wlen} <= 12.0 THEN 1.0 ELSE 0.5 END"
    return f"ROUND({len_score} * 0.4 + {punct_score} * 0.2 + {stop_score} * 0.2 + {wlen_score} * 0.2, 6)"


def q_quality_score(d):
    return f"""
SELECT doc_id,
  {_quality_expr(d)} AS quality
FROM documents
"""


def q_token_count(d):
    from pathik_spark.functions.text_constants import BPE_TOKEN_RE

    norm = _norm_text(d, "text")
    arrlen = d["ARRLEN"](d["SPLIT_WS"](norm))
    bpe = d["RECOUNT"]("text", BPE_TOKEN_RE)
    n = f"CASE WHEN {norm} = '' THEN 0 ELSE {arrlen} END"
    return f"SELECT doc_id, {n} AS n_tokens, {bpe} AS n_bpe_ish FROM documents"


def q_doc_fingerprint(d):
    norm = _norm_text(d, "text")
    return f"""
SELECT doc_id, md5({norm}) AS fingerprint, {d['HASH60'](norm)} AS fingerprint60
FROM documents
"""


def q_kafka_shape(d):
    # S6/S7 message shape (string projection for portability)
    return """
SELECT 'doc:' || CAST(doc_id AS STRING) AS key,
       text AS value,
       'text/markdown' AS content_type,
       'sess-1' AS session_id,
       lang AS header_lang
FROM documents WHERE doc_id % 2 = 0
"""


# --- engine-side oracle queries ---------------------------------------------
# For these, the Spark side runs the ENGINE'S REAL OPERATORS (see
# __spark_entry__.ENGINE_ORACLE_QUERIES) over inputs synthesized by the
# shared SQL below; the DuckDB side is an independent relational
# restatement of the operator semantics. This closes the round-1 gap
# where the driver compared two SQL restatements of each other.

ROBOTS_N_HOSTS = 40


def seeds_sql(d) -> str:
    """Deterministic seed list from orders: (url, seq, priority)."""
    return f"WITH {URLS_CTE} SELECT url, id AS seq, CAST(id % 3 AS INT) AS priority FROM urls_cte"


def _range_i(d, n: int) -> str:
    if d["NAME"] == "spark":
        return f"(SELECT id AS i FROM range(0, {n}))"
    return f"(SELECT range AS i FROM range(0, {n}))"


def robots_sql(d) -> str:
    """Per-host politeness budgets: delay (i%4)*250 ms, cap 20+i%11 per
    round, hosts with i%6==0 disallow the '/sec1' path prefix."""
    arr_one = "array('/sec1')" if d["NAME"] == "spark" else "['/sec1']"
    arr_empty = (
        "CAST(array() AS ARRAY<STRING>)" if d["NAME"] == "spark" else "CAST([] AS STRING[])"
    )
    return (
        f"SELECT 'host' || CAST(i AS STRING) || '.example' AS host, "
        f"CAST(i % 4 AS BIGINT) * 250 AS crawl_delay_ms, "
        f"CAST(20 + i % 11 AS INT) AS max_per_round, "
        f"CASE WHEN i % 6 = 0 THEN {arr_one} ELSE {arr_empty} END AS disallow_prefixes "
        f"FROM {_range_i(d, ROBOTS_N_HOSTS)} t"
    )


def duck_schedule_order_sql() -> str:
    """DuckDB twin of prepare_frontier -> attach_robots ->
    filter_disallowed -> schedule_round (operators/{frontier,robots,
    scheduler}.py): validate, canonicalize, first-(priority,seq)-wins
    dedup, per-host FIFO rank under max_per_round, desired_ms =
    rank0*crawl_delay, global crawl order by (scheduled_ms, priority,
    seq)."""
    d = DUCK
    canon = _canonical_expr(d)
    host = _host(d, "url2")
    path = _path_of("url2")
    return f"""
WITH {URLS_CTE},
seeds AS (SELECT url, id AS seq, CAST(id % 3 AS INT) AS priority FROM urls_cte),
valid AS (SELECT {canon} AS url2, seq, priority FROM seeds WHERE {_valid_pred(d)}),
dedup AS (
  SELECT url2, seq, priority,
         ROW_NUMBER() OVER (PARTITION BY url2 ORDER BY priority, seq) AS rn
  FROM valid
),
fr AS (
  SELECT url2, {host} AS host,
         CASE WHEN {path} = '' THEN '/' ELSE {path} END AS path,
         seq, priority
  FROM dedup WHERE rn = 1
),
robots AS ({robots_sql(d)}),
joined AS (
  SELECT f.url2, f.host, f.seq, f.priority,
         COALESCE(r.crawl_delay_ms, 0) AS crawl_delay_ms,
         COALESCE(r.max_per_round, 1000000000) AS max_per_round
  FROM fr f LEFT JOIN robots r ON f.host = r.host
  WHERE NOT (r.host IS NOT NULL AND len(r.disallow_prefixes) > 0
             AND f.path LIKE '/sec1%')
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, seq) AS rank_in_host
  FROM joined
),
selected AS (
  SELECT *, CAST(rank_in_host - 1 AS BIGINT) * crawl_delay_ms AS scheduled_ms
  FROM ranked WHERE rank_in_host <= max_per_round
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY scheduled_ms, priority, seq) AS INT) AS crawl_order,
       url2 AS url, host, CAST(rank_in_host AS INT) AS rank_in_host,
       scheduled_ms, priority, seq
FROM selected
"""


# --- relational multi-round crawl oracle -------------------------------------
# The flagship CrawlRun loop (plans/driver.py run_round), restated for
# TWO full rounds as pure SQL: validate/canonicalize/dedup, robots +
# disallow, seen anti-join, per-host budget rank, politeness schedule,
# global crawl order, fetch status, then the three next-frontier
# channels (deferred / retry / discovered) feeding round 1. The Spark
# side runs the REAL driver over the same templated inputs
# (crawl_pages_sql / crawl_links_sql below), so a green driver row here
# covers the multi-round semantics end-to-end — not just the per-stage
# operators.

CRAWL_REL_MAX_ATTEMPTS = 2  # missing urls retry once, then become seen
CRAWL_REL_SEQ_BASE = 1_000_000_000_000  # driver.py: seq_base=(round+1)*1e12


def _crawl_rel_dst(d) -> str:
    """Deterministic link destination for seed id: a canonical-form URL
    on a derived host — possibly a different host than the source, and
    colliding across sources (the multi-parent discovery case)."""
    return (
        "'https://host' || CAST((id * 7) % 40 AS STRING) || '.example/d' "
        "|| CAST(id % 23 AS STRING)"
    )


def crawl_pages_sql(d) -> str:
    """Pages table (url, warc_ts, html, text, lang) for the relational
    crawl twin: ~3/4 of canonical seed URLs plus 2/3 of link
    destinations exist (the rest exercise missing/retry). Rendered only
    in the Spark dialect (the DuckDB twin re-derives the url set
    inline and never needs html bytes)."""
    canon = _canonical_expr(d)
    return f"""
WITH {URLS_CTE},
seedpages AS (
  SELECT DISTINCT {canon} AS url FROM urls_cte
  WHERE id % 4 <> 0 AND {_valid_pred(d)}
),
dstpages AS (
  SELECT DISTINCT {_crawl_rel_dst(d)} AS url FROM urls_cte
  WHERE ((id * 7) % 40) % 3 <> 0
),
allpages AS (SELECT url FROM seedpages UNION SELECT url FROM dstpages)
SELECT url,
  CAST('2024-03-01 00:00:00' AS TIMESTAMP) AS warc_ts,
  CAST('<html><head><title>t</title></head><body><p>page body</p></body></html>' AS BINARY) AS html,
  '' AS text,
  'en' AS lang
FROM allpages
"""


def crawl_links_sql(d) -> str:
    """Link graph (src_url, dst_url) for the relational crawl twin:
    every even seed id links to one derived destination."""
    return f"""
WITH {URLS_CTE}
SELECT url AS src_url, {_crawl_rel_dst(d)} AS dst_url
FROM urls_cte WHERE id % 2 = 0
"""


def _crawl_rel_round_ctes(d, r: int, frontier: str, seen: str | None) -> str:
    """One crawl round's relational chain (CTEs prefixed r{r}_):
    canonicalize+validate -> first-(priority,seq)-wins dedup -> robots
    join + disallow filter -> seen anti-join -> per-host FIFO rank under
    max_per_round -> desired_ms = rank0*crawl_delay -> global crawl
    order -> fetch status via the pages set. Canon+valid re-applied
    every round exactly as prepare_frontier does."""
    canon = _canonical_expr(d)
    host = _host(d, "url")
    path = _path_of("url")
    seen_pred = (
        f"AND NOT EXISTS (SELECT 1 FROM {seen} s WHERE s.url = c.url)"
        if seen
        else ""
    )
    return f"""r{r}_canon AS (
  SELECT {canon} AS url, seq, priority, attempt
  FROM {frontier} WHERE {_valid_pred(d)}
),
r{r}_dedup AS (
  SELECT url, seq, priority, attempt FROM (
    SELECT url, seq, priority, attempt,
           ROW_NUMBER() OVER (PARTITION BY url ORDER BY priority, seq) AS rn
    FROM r{r}_canon
  ) t WHERE rn = 1
),
r{r}_cand AS (
  SELECT c.url, {host} AS host,
         CASE WHEN {path} = '' THEN '/' ELSE {path} END AS path,
         c.seq, c.priority, c.attempt,
         COALESCE(rb.crawl_delay_ms, 0) AS crawl_delay_ms,
         COALESCE(rb.max_per_round, 1000000000) AS max_per_round
  FROM r{r}_dedup c LEFT JOIN robots rb ON {host} = rb.host
  WHERE NOT (rb.host IS NOT NULL AND len(rb.disallow_prefixes) > 0
             AND {path} LIKE '/sec1%') {seen_pred}
),
r{r}_sel AS (
  SELECT *, CAST(rank_in_host - 1 AS BIGINT) * crawl_delay_ms AS scheduled_ms
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, seq) AS rank_in_host
    FROM r{r}_cand
  ) t WHERE rank_in_host <= max_per_round
),
r{r}_sched AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY scheduled_ms, priority, seq) AS INT) AS crawl_order
  FROM r{r}_sel
),
r{r}_arts AS (
  SELECT s.*, CASE WHEN p.url IS NOT NULL THEN 'fetched' ELSE 'missing' END AS status
  FROM r{r}_sched s LEFT JOIN pages p ON s.url = p.url
)"""


def duck_crawl_rounds_sql() -> str:
    """DuckDB twin of a 2-round CrawlRun (plans/driver.py) over the
    templated seeds/robots/pages/links: restates rounds 0-1 including
    W3 retries (attempt+1 < max_attempts), budget deferral, link
    discovery with the driver's deterministic seq assignment
    (seq_base + rank over (parent_seq, url), priority =
    DISCOVERED_PRIORITY = 2), and the seen set (fetched ∪ retry-
    exhausted) gating round 1."""
    d = DUCK
    canon_src = _canonical_expr(d, "l.src_url")
    canon = _canonical_expr(d)
    return f"""
WITH {URLS_CTE},
seeds AS (SELECT url, id AS seq, CAST(id % 3 AS INT) AS priority FROM urls_cte),
robots AS ({robots_sql(d)}),
pages AS (
  SELECT DISTINCT {canon} AS url FROM urls_cte
  WHERE id % 4 <> 0 AND {_valid_pred(d)}
  UNION
  SELECT DISTINCT {_crawl_rel_dst(d)} AS url FROM urls_cte
  WHERE ((id * 7) % 40) % 3 <> 0
),
links AS (
  SELECT url AS src_url, {_crawl_rel_dst(d)} AS dst_url
  FROM urls_cte WHERE id % 2 = 0
),
r0_frontier AS (SELECT url, seq, priority, 0 AS attempt FROM seeds),
{_crawl_rel_round_ctes(d, 0, "r0_frontier", None)},
r0_seen AS (
  SELECT url FROM r0_arts
  WHERE status = 'fetched' OR attempt + 1 >= {CRAWL_REL_MAX_ATTEMPTS}
),
r0_deferred AS (
  SELECT c.url, c.seq, c.priority, c.attempt FROM r0_cand c
  WHERE NOT EXISTS (SELECT 1 FROM r0_sel s WHERE s.url = c.url)
),
r0_retry AS (
  SELECT url, seq, priority, attempt + 1 AS attempt FROM r0_arts
  WHERE status = 'missing' AND attempt + 1 < {CRAWL_REL_MAX_ATTEMPTS}
),
r0_disc_pairs AS (
  SELECT DISTINCT a.seq AS parent_seq, l.dst_url
  FROM links l JOIN r0_arts a
    ON {canon_src} = a.url AND a.status = 'fetched'
),
r0_disc AS (
  SELECT dst_url AS url,
         CAST({CRAWL_REL_SEQ_BASE} AS BIGINT)
           + ROW_NUMBER() OVER (ORDER BY parent_seq, dst_url) AS seq,
         CAST(2 AS INT) AS priority, 0 AS attempt
  FROM r0_disc_pairs
),
r1_frontier AS (
  SELECT url, seq, priority, attempt FROM r0_deferred
  UNION ALL SELECT url, seq, priority, attempt FROM r0_retry
  UNION ALL SELECT url, seq, priority, attempt FROM r0_disc
),
{_crawl_rel_round_ctes(d, 1, "r1_frontier", "r0_seen")}
SELECT CAST(0 AS INT) AS round, crawl_order, url, host, status,
       CAST(rank_in_host AS INT) AS rank_in_host, scheduled_ms,
       priority, seq, attempt
FROM r0_arts
UNION ALL
SELECT CAST(1 AS INT) AS round, crawl_order, url, host, status,
       CAST(rank_in_host AS INT) AS rank_in_host, scheduled_ms,
       priority, seq, attempt
FROM r1_arts
"""


def duck_bloom_seen_sql() -> str:
    """DuckDB twin of the bloom-sharded URL-seen filter (operators/
    seen.py): semantics are EXACTLY the anti-join (a bloom false positive
    can only route rows into the exact join, never drop them), so the
    oracle is the plain set difference on canonical URLs."""
    d = DUCK
    canon = _canonical_expr(d)
    return f"""
WITH {URLS_CTE},
frontier AS (SELECT DISTINCT {canon} AS url FROM urls_cte WHERE {_valid_pred(d)}),
seen AS (SELECT DISTINCT {canon} AS url FROM urls_cte WHERE id % 3 = 0 AND {_valid_pred(d)})
SELECT f.url AS url FROM frontier f
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = f.url)
"""


def duck_seen_probe_plan_sql() -> str:
    """DuckDB twin of the pre-filter cap-boundary query: both arms
    (shards built at the exact planned cap / build skipped one byte
    under it) are exactly the plain anti-join, so the oracle is the set
    difference cross-joined with the two arm labels."""
    d = DUCK
    canon = _canonical_expr(d)
    return f"""
WITH {URLS_CTE},
frontier AS (SELECT DISTINCT {canon} AS url FROM urls_cte WHERE {_valid_pred(d)}),
seen AS (SELECT DISTINCT {canon} AS url FROM urls_cte WHERE id % 3 = 0 AND {_valid_pred(d)}),
arms AS (SELECT 'at_cap' AS arm UNION ALL SELECT 'under_cap')
SELECT a.arm AS arm, f.url AS url FROM frontier f CROSS JOIN arms a
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = f.url)
"""


# deterministic link farm used by the extraction-oracle HTML template:
# anchor-text length 19 gives the template's non-article nodes a fixed
# negative readability score (see kernels/extract.py scoring spec)
LINK_FARM_TEXT = "AAAA BBBB CCCC DDDD"


def extract_clean_expr(d, col: str = "text") -> str:
    """Article body for the extraction-oracle template: restricted to
    [a-zA-Z0-9 .,] with collapsed single spaces, so the readability
    kernel's whitespace collapse is the identity on it and the expected
    extraction output is SQL-expressible."""
    stripped = d["RE_REPLACE"](col, "[^a-zA-Z0-9 .,]", " ")
    collapsed = d["RE_REPLACE"](stripped, "  +", " ")
    return f"trim({collapsed})"


def extract_html_sql(d) -> str:
    """(doc_id, html_str): deterministic HTML page around the cleaned
    document text. Structure exercises drop-tags (head), the anchor
    penalty (link-farm div), article selection, and the body fallback
    (empty article)."""
    clean = extract_clean_expr(d)
    return f"""
SELECT doc_id,
  '<html><head><title>t</title></head><body><div><a href="/a">{LINK_FARM_TEXT}</a></div><article><p>'
  || {clean} || '</p></article></body></html>' AS html_str
FROM documents
"""


def duck_extract_text_sql() -> str:
    """Expected readability output for the template in extract_html_sql:
    the cleaned text when non-empty (article wins: score 2*len vs body's
    2*len-57 and the link div's -57), else the body fallback emits the
    link-farm text."""
    d = DUCK
    clean = extract_clean_expr(d)
    return f"""
SELECT doc_id,
  CASE WHEN {clean} = '' THEN '{LINK_FARM_TEXT}' ELSE {clean} END AS extracted
FROM documents
"""


SELECT_NOISE = "Sidebar noise block"


def select_html_sql(d) -> str:
    """(doc_id, html_str) for the css-selector oracle: the cleaned
    document text sits in ``#main > p.lead``; a sidebar paragraph and an
    unselected trailing paragraph surround it so the selector has to
    discriminate (group alternative, descendant AND child combinators,
    class + id compounds)."""
    clean = extract_clean_expr(d)
    return f"""
SELECT doc_id,
  '<html><body><div class="sidebar"><p>{SELECT_NOISE}</p></div><article id="main"><p class="lead">'
  || {clean} || '</p><p>Unselected trailing block</p></article></body></html>' AS html_str
FROM documents
"""


CSS_SELECTOR = ".sidebar p, #main > .lead"


def duck_css_select_sql() -> str:
    """Expected ``select_text`` output for select_html_sql's template
    under CSS_SELECTOR: matches in document order (sidebar paragraph,
    then the lead paragraph) joined by blank lines; an empty cleaned
    text contributes no paragraph (kernels/selector.py discipline)."""
    d = DUCK
    clean = extract_clean_expr(d)
    return f"""
SELECT doc_id,
  CASE WHEN {clean} = '' THEN '{SELECT_NOISE}'
       ELSE '{SELECT_NOISE}' || chr(10) || chr(10) || {clean} END AS selected
FROM documents
"""


def links_html_sql(d) -> str:
    """(doc_id, base_url, html_str) for the link-discovery oracle: six
    anchors per page exercising the extract_links contract
    (kernels/extract.py:407) — a <nav> chrome anchor (dropped subtree),
    a fragment-only href (skipped), a root-relative and a path-relative
    href (RFC 3986 resolution against base_url, whitespace-stripped),
    a mailto (non-http scheme, skipped), and an absolute href."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  'https://h' || CAST(doc_id % 7 AS STRING) || '.example.com/dir/page' AS base_url,
  '<html><body><nav><a href="/chrome">chrome</a></nav><p><a href="#top">skip</a>'
  || '<a href=" /root/' || {did} || ' ">r</a>'
  || '<a href="rel/' || {did} || '">p</a>'
  || '<a href="mailto:a@b.example">m</a>'
  || '<a href="https://abs.example.org/x/' || {did} || '">a</a></p></body></html>' AS html_str
FROM documents
"""


def duck_extract_links_sql() -> str:
    """Expected resolved hrefs for links_html_sql's template, in document
    order: the nav / fragment / mailto anchors contribute nothing; the
    two relative hrefs resolve against base_url; the absolute href
    passes through."""
    did = "CAST(doc_id AS STRING)"
    return f"""
WITH b AS (
  SELECT doc_id, 'https://h' || CAST(doc_id % 7 AS STRING) || '.example.com' AS origin
  FROM documents
)
SELECT doc_id, pos, dst_url FROM (
  SELECT doc_id, 0 AS pos, origin || '/root/' || {did} AS dst_url FROM b
  UNION ALL
  SELECT doc_id, 1 AS pos, origin || '/dir/rel/' || {did} AS dst_url FROM b
  UNION ALL
  SELECT doc_id, 2 AS pos, 'https://abs.example.org/x/' || {did} AS dst_url FROM b
) t
"""


def pii_text_sql(d) -> str:
    """(doc_id, ptext): document text with deterministic PII planted —
    an email whose local part is a bare number, a dotted-quad IP, and a
    +-prefixed phone run — so the scrub pass has real targets."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  'contact ' || {did} || '@ex' || CAST(doc_id % 9 AS STRING)
  || '.com ping 10.0.' || CAST(doc_id % 250 AS STRING) || '.7 call +1415555'
  || CAST(1000 + doc_id % 9000 AS STRING) || ' ' || text AS ptext
FROM documents
"""


def duck_pii_scrub_sql() -> str:
    """The PII_PATTERNS chain applied in order to pii_text_sql's
    template — the oracle twin of functions/text.pii_scrub."""
    from pathik_spark.functions.text_constants import PII_PATTERNS

    d = DUCK
    inner = pii_text_sql(d)
    expr = "ptext"
    for pattern, repl in PII_PATTERNS:
        expr = d["RE_REPLACE"](expr, pattern, repl)
    return f"SELECT doc_id, {expr} AS scrubbed FROM ({inner}) t"


def repetition_text_sql(d) -> str:
    """(doc_id, text) with synthesized line breaks (every ' the ' becomes
    a newline — plain string replace, byte-identical in both dialects)
    so the line-repetition signal has lines to measure."""
    return "SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents"


def duck_repetition_signals_sql() -> str:
    """SQL twin of operators/quality.repetition_signals over
    repetition_text_sql's lined text. The operator computes the
    top-bigram multiplicity as a longest-equal-run over the doc's
    sorted bigram array (no shuffle); the oracle states the same
    quantity the relational way (GROUP BY doc_id, bigram -> MAX).
    Tokens filter ``tok <> ''`` to mirror the empty-text -> empty
    token-array convention of the Spark side."""
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH lined AS ({repetition_text_sql(d)}),
toks_cte AS (SELECT doc_id, {d['SPLIT_WS'](norm)} AS toks FROM lined),
tokens AS (SELECT * FROM ({d['POSEXPLODE_FROM']('toks_cte', 'toks')}) WHERE tok <> ''),
tstats AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_dtok
  FROM tokens GROUP BY doc_id
),
bg AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram
  FROM tokens a JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bstats AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_c
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram) g
  GROUP BY doc_id
),
lines AS (
  SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line FROM lined
),
lstats AS (
  SELECT doc_id, COUNT(*) AS n_lines, COUNT(DISTINCT line) AS n_dlines
  FROM lines WHERE line <> '' GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id,
    CAST(coalesce(t.n_tokens, 0) AS INTEGER) AS n_tokens,
    CASE WHEN coalesce(l.n_lines, 0) > 0
      THEN ROUND(CAST(l.n_lines - l.n_dlines AS DOUBLE) / l.n_lines, 6)
      ELSE 0.0 END AS dup_line_frac,
    CASE WHEN coalesce(t.n_tokens, 0) > 0
      THEN ROUND(CAST(t.n_tokens - t.n_dtok AS DOUBLE) / t.n_tokens, 6)
      ELSE 0.0 END AS dup_token_frac,
    CASE WHEN coalesce(b.n_bigrams, 0) > 0
      THEN ROUND(CAST(b.top_c AS DOUBLE) / b.n_bigrams, 6)
      ELSE 0.0 END AS top_bigram_frac
  FROM lined d
  LEFT JOIN tstats t ON t.doc_id = d.doc_id
  LEFT JOIN bstats b ON b.doc_id = d.doc_id
  LEFT JOIN lstats l ON l.doc_id = d.doc_id
)
SELECT doc_id, n_tokens, dup_line_frac, dup_token_frac, top_bigram_frac,
  (n_tokens >= 5 AND dup_line_frac <= 0.30 AND dup_token_frac <= 0.50
   AND top_bigram_frac <= 0.20) AS keep
FROM sig
"""


def _minhash16_h(d, i: int) -> str:
    return d["HASH60"](f"'{i}:' || shingle")


def _minhash_pairs_ctes(n_docs: int = 300, compact32: bool = False) -> str:
    """Shared DuckDB CTE chain: word_shingles -> minhash_signatures
    (portable) -> lsh_candidate_pairs(portable) -> verified pairs at
    jaccard >= 0.4 (operators/dedup.py semantics); terminal CTE is
    ``vpairs (doc_a, doc_b, n_inter, jaccard)``. ``compact32`` states
    the bandwidth-lean banding shape instead (band id FOLDED into one
    HASH60 % 2^31 key, single-column equi-join) — the twin of
    lsh_candidate_pairs(portable=True, compact32=True)."""
    d = DUCK
    sig_cols = ", ".join(f"MIN({_minhash16_h(d, i)}) AS h{i}" for i in range(16))
    if compact32:
        band_selects = " UNION ALL ".join(
            "SELECT doc_id, "
            + d["HASH60"](
                f"'band{b}:' || CAST(h{2 * b} AS STRING) || ',' || CAST(h{2 * b + 1} AS STRING)"
            )
            + " % 2147483648 AS band_key FROM sigs"
            for b in range(8)
        )
        cands = """cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
    else:
        band_selects = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            + d["HASH60"](f"CAST(h{2 * b} AS STRING) || ',' || CAST(h{2 * b + 1} AS STRING)")
            + " AS band_hash FROM sigs"
            for b in range(8)
        )
        cands = """cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""
    return f"""{_tokens_cte(d, where=f"WHERE doc_id < {n_docs}")},
shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM tokens a
  JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tokens c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
sigs AS (SELECT doc_id, {sig_cols} FROM shingles GROUP BY doc_id),
bands AS ({band_selects}),
{cands},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
vpairs AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE EXISTS (SELECT 1 FROM cands c WHERE c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
    AND ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) >= 0.4
)"""


def duck_minhash_lsh_sql(n_docs: int = 300) -> str:
    """DuckDB twin of word_shingles -> minhash_signatures(portable) ->
    lsh_candidate_pairs(portable) -> jaccard_pairs(threshold=0.4)
    (operators/dedup.py): 3-gram shingles, 16 portable-hash minima,
    8 bands of 2 hashed portably, candidate equi-join on (band_id,
    band_hash), exact-Jaccard verification at >= 0.4."""
    return f"""
WITH {_minhash_pairs_ctes(n_docs)}
SELECT doc_a, doc_b, n_inter, jaccard FROM vpairs
"""


def duck_band_pairs_i32_sql(n_docs: int = 300) -> str:
    """DuckDB twin of the COMPACT (int32, band-id-folded) banding arm:
    word_shingles -> minhash_signatures(portable) ->
    lsh_candidate_pairs(portable=True, compact32=True) ->
    jaccard_pairs(threshold=0.4). Pins the production bandwidth shape
    (single 32-bit band key, one-column equi-join) end-to-end — the
    candidate set may differ from the 64-bit arm only by ADDED
    collision pairs, and the verify step's output here is checked
    bit-for-bit."""
    return f"""
WITH {_minhash_pairs_ctes(n_docs, compact32=True)}
SELECT doc_a, doc_b, n_inter, jaccard FROM vpairs
"""


def duck_dedup_clusters_sql(n_docs: int = 300) -> str:
    """DuckDB twin of dedup_clusters (operators/dedup.py): connected
    components over the verified MinHash-LSH pair graph via a recursive
    min-label-propagation CTE (the engine's large-star/small-star loop
    computes the same component-min labeling), every document labeled
    (itself when unpaired), cluster sizes, canonical = component min."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes(n_docs)},
docs AS (SELECT doc_id FROM documents WHERE doc_id < {n_docs}),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM vpairs
),
reach AS (
  SELECT doc_id AS u, doc_id AS label FROM docs
  UNION
  SELECT s.u, r.label FROM sym s JOIN reach r ON s.v = r.u
),
labels AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, c.cluster_size,
       (l.doc_id = l.cluster_id) AS is_canonical
FROM labels l JOIN csize c ON c.cluster_id = l.cluster_id
"""


def _lsh_bucket_ctes(n_planes: int, dim: int, vec_where: str = "") -> str:
    """Shared CTE block computing SRP LSH buckets relationally: the
    engine's deterministic hyperplanes (fixed-seed PCG64, bit-stable)
    inlined as literal (plane, pos, weight) rows; bucket = packed sign
    bits of vec . plane. Yields CTEs ``vecs`` (vec_id, pos, v) and
    ``buckets`` (vec_id, bucket). Sign flips would need |dot| within
    ~1e-13 of 0 — excluded by the synthetic corpus."""
    from pathik_spark.operators.ann import hyperplanes

    pl = hyperplanes(n_planes, dim)
    plane_rows = ", ".join(
        f"({p}, {i}, {float(pl[p, i])!r})"
        for p in range(n_planes)
        for i in range(dim)
    )
    weight_rows = ", ".join(
        f"({p}, {1 << (n_planes - 1 - p)})" for p in range(n_planes)
    )
    return f"""
vecs AS (
  SELECT vec_id, generate_subscripts(embedding,1)-1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings {vec_where}
),
planes AS (SELECT * FROM (VALUES {plane_rows}) t(p, pos, w)),
pweights AS (SELECT * FROM (VALUES {weight_rows}) t(p, bitw)),
dots AS (
  SELECT v.vec_id, pl.p, SUM(v.v * pl.w) AS dot
  FROM vecs v JOIN planes pl ON v.pos = pl.pos
  GROUP BY v.vec_id, pl.p
),
buckets AS (
  SELECT d.vec_id,
         SUM(CASE WHEN d.dot >= 0 THEN pw.bitw ELSE 0 END) AS bucket
  FROM dots d JOIN pweights pw ON d.p = pw.p
  GROUP BY d.vec_id
)"""


def duck_lsh_ann_sql(n_planes: int = 4, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of lsh_bucketed_topk (operators/ann.py): SRP buckets
    via _lsh_bucket_ctes, candidates share the query's bucket, and the
    exact cosine re-rank matches the engine's round-6 + vec_id
    tiebreak; ties are broken identically in both engines."""
    return f"""
WITH {_lsh_bucket_ctes(n_planes, dim)},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         SUM(qv.v * cv.v) AS dot,
         SQRT(SUM(qv.v * qv.v)) AS nq,
         SQRT(SUM(cv.v * cv.v)) AS nc
  FROM buckets q
  JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  JOIN vecs qv ON qv.vec_id = q.vec_id
  JOIN vecs cv ON cv.vec_id = c.vec_id AND cv.pos = qv.pos
  WHERE q.vec_id < 5
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, vec_id, score, "rank" FROM (
  SELECT query_id, vec_id, ROUND(dot / (nq * nc), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(dot / (nq * nc), 6) DESC, vec_id
         ) AS "rank"
  FROM pairs
) t WHERE "rank" <= {k}
"""


def duck_embedding_neardup_lsh_sql(
    n_planes: int = 6, dim: int = 64, threshold: float = 0.25, n_vecs: int = 120
) -> str:
    """DuckDB twin of the PRODUCTION LSH-blocked arm of
    embedding_near_dup_pairs (operators/ann.py, exact=False): buckets
    from the same inlined hyperplanes, candidate pairs share a bucket
    with id_a < id_b, exact cosine at >= threshold. Full relational
    equality with the blocked arm — strictly stronger than the
    blocked-subset-of-exact assertion."""
    return f"""
WITH {_lsh_bucket_ctes(n_planes, dim, f"WHERE vec_id < {n_vecs}")},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(av.v * bv.v) AS dot,
         SQRT(SUM(av.v * av.v)) AS na,
         SQRT(SUM(bv.v * bv.v)) AS nb
  FROM buckets a
  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id AND bv.pos = av.pos
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, ROUND(dot / (na * nb), 6) AS score
FROM pairs WHERE ROUND(dot / (na * nb), 6) >= {threshold}
"""


def duck_ivf_exact_sql(k: int = 5, n_queries: int = 5) -> str:
    """DuckDB twin of ivf_topk at its EXACT limit (nprobe ==
    n_centroids): probing every cell covers the whole corpus, so the
    result equals brute-force cosine top-k regardless of the trained
    centroids — which makes the full IVF machinery (spherical-kmeans
    training, assign UDFs, probe explode, cid equi-join, re-rank)
    DuckDB-oracleable without restating float k-means relationally."""
    d = DUCK
    qsrc = d["UNNEST_IDX"](
        f"(SELECT vec_id, embedding FROM embeddings WHERE vec_id < {n_queries}) s",
        "embedding",
    )
    csrc = d["UNNEST_IDX"]("(SELECT vec_id, embedding FROM embeddings) s", "embedding")
    return f"""
WITH qvecs AS ({qsrc}), cvecs AS ({csrc}), {_COS_CTE}
SELECT query_id, vec_id, score, rnk FROM (
  SELECT query_id, vec_id, ROUND(dot / (nq * nc), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(dot / (nq * nc), 6) DESC, vec_id
         ) AS rnk
  FROM pairs
) t WHERE rnk <= {k}
"""


# Deterministic host-level link graph synthesized from orders (same
# text parses in Spark SQL and DuckDB): edge (src_host, dst_host) with
# link-count weight, self-loops dropped.
HOST_EDGES_CTE = """
edges AS (
  SELECT 'host' || CAST(o_orderkey % 40 AS STRING) AS src_host,
         'host' || CAST(o_custkey % 40 AS STRING) AS dst_host,
         COUNT(*) AS weight
  FROM orders
  WHERE (o_orderkey % 40) <> (o_custkey % 40)
  GROUP BY 1, 2
)
"""


def duck_host_rank_sql(damping: float = 0.85, n_iters: int = 3) -> str:
    """DuckDB twin of host_rank (operators/rank.py): the same fixed
    power iterations stated as chained CTEs (r0 -> c1/r1 -> ... -> rN),
    same leak-the-dangling-mass variant, final ROUND(6)."""
    teleport = f"((1.0 - {damping}) / (SELECT n FROM nn))"
    parts = [
        HOST_EDGES_CTE.strip().rstrip(),
        """nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host AS host FROM edges
)""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        """outw AS (
  SELECT src_host, CAST(SUM(weight) AS DOUBLE) AS out_w FROM edges GROUP BY src_host
)""",
        "r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""c{k} AS (
  SELECT e.dst_host AS host,
         SUM(r.rank * CAST(e.weight AS DOUBLE) / o.out_w) AS c
  FROM edges e
  JOIN r{k - 1} r ON r.host = e.src_host
  JOIN outw o ON o.src_host = e.src_host
  GROUP BY e.dst_host
)"""
        )
        parts.append(
            f"""r{k} AS (
  SELECT n0.host, {teleport} + {damping} * COALESCE(c{k}.c, 0.0) AS rank
  FROM nodes n0 LEFT JOIN c{k} ON c{k}.host = n0.host
)"""
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT host, ROUND(rank, 6) AS rank FROM r{n_iters}\n"


BEST_PER_GROUP_K = 5


def duck_best_per_group_sql(k: int = BEST_PER_GROUP_K) -> str:
    """DuckDB twin of sampling.best_per_group over documents grouped by
    source, ordered by the shared quality heuristic (desc) with doc_id
    tie-break."""
    q = _quality_expr(DUCK)
    return f"""
WITH qd AS (SELECT source, doc_id, {q} AS quality FROM documents),
rk AS (
  SELECT source, doc_id, quality,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
  FROM qd
)
SELECT source, doc_id, quality, CAST(rnk AS INT) AS rnk FROM rk WHERE rnk <= {k}
"""


BIGRAM_LAM = 0.8


def duck_bigram_lm_score_sql(lam: float = BIGRAM_LAM) -> str:
    """DuckDB twin of train_bigram_lm(vocab=16, lam) + bigram_lm_score
    over documents (operators/lm.py): same top-16 vocab/mass convention
    as `lm_score`, JM-interpolated in-vocab bigrams as micro-log10 ints,
    unseen pairs = uni_micro + round(log10(1-lam)*1e6) BY CONVENTION,
    first tokens pure unigram, OOV at the 1/mass floor."""
    import math

    shift = int(round(math.log10(1.0 - lam) * 1000000))
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH toks0 AS (
  SELECT doc_id, generate_subscripts(string_split({norm}, ' '), 1) - 1 AS pos,
         unnest(string_split({norm}, ' ')) AS tok
  FROM documents
),
toks AS (SELECT doc_id, pos, tok FROM toks0 WHERE tok <> ''),
counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {LM_VOCAB}),
mass AS (SELECT CAST(SUM(n) + COUNT(*) + 1 AS BIGINT) AS m FROM top),
lm AS (
  SELECT tok, CAST(ROUND(log10((n + 1.0) / m) * 1000000) AS BIGINT) AS lp
  FROM top, mass
),
flo AS (SELECT CAST(ROUND(log10(1.0 / m) * 1000000) AS BIGINT) AS flp FROM mass),
pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
firsts AS (
  SELECT doc_id, CAST(NULL AS VARCHAR) AS w1, tok AS w2 FROM toks WHERE pos = 0
),
c12 AS (
  SELECT p.w1, p.w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs p
  JOIN top t1 ON t1.tok = p.w1 JOIN top t2 ON t2.tok = p.w2
  GROUP BY p.w1, p.w2
),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
blm AS (
  SELECT c12.w1, c12.w2,
    CAST(ROUND(log10({lam!r} * (c12.c12 / c1.c1) + {1.0 - lam!r} * ((t2.n + 1.0) / mass.m)) * 1000000) AS BIGINT) AS lp
  FROM c12 JOIN c1 USING (w1) JOIN top t2 ON t2.tok = c12.w2, mass
),
allrows AS (SELECT * FROM firsts UNION ALL SELECT * FROM pairs),
scored AS (
  SELECT s.doc_id,
    CASE WHEN b.lp IS NOT NULL THEN b.lp
         WHEN s.w1 IS NULL THEN COALESCE(l.lp, f.flp)
         ELSE COALESCE(l.lp, f.flp) + ({shift}) END AS lp
  FROM allrows s
  LEFT JOIN blm b ON b.w1 = s.w1 AND b.w2 = s.w2
  LEFT JOIN lm l ON l.tok = s.w2
  CROSS JOIN flo f
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         ROUND(SUM(lp) / (COUNT(*) * 1000000.0), 6) AS mean_logp
  FROM scored GROUP BY doc_id
)
SELECT dd.doc_id,
  COALESCE(a.n_tok, 0) AS n_tok,
  COALESCE(a.mean_logp, 0.0) AS mean_logp
FROM documents dd LEFT JOIN agg a USING (doc_id)
"""


RP_OUT_DIM = 4
RP_DIM = 64


def duck_random_projection_sql(out_dim: int = RP_OUT_DIM, dim: int = RP_DIM) -> str:
    """DuckDB twin of ann.random_projection(micro_exact=True) in long
    form (vec_id, j, component): the Achlioptas matrix's NONZERO entries
    inlined as literals (2/3 sparse -> ~dim*out_dim/3 rows), positional
    unnest join, and per-PRODUCT micro-int rounding before the sum so
    the comparison is associative-exact, not merely 1e-6-close."""
    from pathik_spark.operators.ann import projection_matrix

    mat = projection_matrix(out_dim, dim)
    vals = ", ".join(
        f"({i}, {j}, {float(mat[i, j])!r})"
        for i in range(dim)
        for j in range(out_dim)
        if mat[i, j] != 0.0
    )
    d = DUCK
    unnest = d["UNNEST_IDX"]("emb", "embedding")
    return f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
vals AS ({unnest}),
proj(i, j, m) AS (VALUES {vals})
SELECT v.vec_id, CAST(p.j AS INT) AS j,
  ROUND(SUM(CAST(ROUND(v.v * p.m * 1000000.0) AS BIGINT)) / 1000000.0, 6) AS component
FROM vals v JOIN proj p ON p.i = v.pos
GROUP BY v.vec_id, p.j
"""


def duck_host_graph_stats_sql() -> str:
    """DuckDB twin of rank.host_graph_stats over the HOST_EDGES_CTE
    graph: distinct-neighbor degrees, weight sums, and mutual-link
    reciprocity (pair set joined to its own reverse)."""
    return f"""
WITH {HOST_EDGES_CTE.strip()},
pairs AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM edges),
mutual AS (
  SELECT p.src, CAST(COUNT(*) AS BIGINT) AS n_mutual
  FROM pairs p JOIN pairs b ON b.src = p.dst AND b.dst = p.src
  GROUP BY p.src
),
outs AS (
  SELECT src_host AS src, CAST(COUNT(DISTINCT dst_host) AS BIGINT) AS out_deg,
         CAST(SUM(weight) AS BIGINT) AS out_w
  FROM edges GROUP BY src_host
),
ins AS (
  SELECT dst_host AS src, CAST(COUNT(DISTINCT src_host) AS BIGINT) AS in_deg,
         CAST(SUM(weight) AS BIGINT) AS in_w
  FROM edges GROUP BY dst_host
),
nodes AS (SELECT src FROM pairs UNION SELECT dst AS src FROM pairs)
SELECT n.src AS host,
  COALESCE(o.out_deg, 0) AS out_deg,
  COALESCE(i.in_deg, 0) AS in_deg,
  COALESCE(o.out_w, 0) AS out_w,
  COALESCE(i.in_w, 0) AS in_w,
  CASE WHEN COALESCE(o.out_deg, 0) > 0
    THEN ROUND(COALESCE(m.n_mutual, 0) / o.out_deg, 6) ELSE 0.0 END AS reciprocity
FROM nodes n
LEFT JOIN outs o ON o.src = n.src
LEFT JOIN ins i ON i.src = n.src
LEFT JOIN mutual m ON m.src = n.src
"""


TEMP_MIX_ALPHA = 0.3


def duck_temperature_mix_sql(alpha: float = TEMP_MIX_ALPHA) -> str:
    """DuckDB twin of sampling.temperature_mix over documents grouped by
    lang: rate_g = ROUND((n_min/n_g)^(1-alpha), 6) (the closed
    water-filling form of p ∝ n^alpha), then the same salted 60-bit
    doc_id bucket lattice as every sampling oracle."""
    d = DUCK
    bucket = d["HASH60"]("'temp:' || CAST(doc_id AS VARCHAR)") + f" % {SAMPLE_DENOM}"
    return f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
nmin AS (SELECT MIN(n) AS nm FROM counts),
rates AS (
  SELECT lang,
    ROUND(POWER(CAST((SELECT nm FROM nmin) AS DOUBLE) / CAST(n AS DOUBLE), {repr(1.0 - alpha)}), 6) AS rate
  FROM counts
)
SELECT dd.doc_id, dd.lang FROM documents dd
JOIN rates r ON r.lang = dd.lang
WHERE ({bucket}) < CAST(ROUND(r.rate * {SAMPLE_DENOM}) AS BIGINT)
"""


TOP_NGRAMS_N = 2
TOP_NGRAMS_K = 100


def duck_top_ngrams_sql(n: int = TOP_NGRAMS_N, k: int = TOP_NGRAMS_K) -> str:
    """DuckDB twin of ngrams.top_ngrams over documents: the n-gram
    MULTISET via an (n-1)-step positional self-join (no DISTINCT —
    mirrors word_shingles(distinct=False)), count desc / gram asc
    top-k with a matching rank."""
    d = DUCK
    aliases = [chr(ord("a") + i) for i in range(n)]
    concat = " || ' ' || ".join(f"{x}.tok" for x in aliases)
    joins = " ".join(
        f"JOIN tokens {aliases[i]} ON a.doc_id = {aliases[i]}.doc_id "
        f"AND {aliases[i]}.pos = a.pos + {i}"
        for i in range(1, n)
    )
    return f"""
WITH {_tokens_cte(d)},
grams AS (SELECT {concat} AS gram FROM tokens a {joins}),
counts AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS count FROM grams GROUP BY gram),
top AS (SELECT gram, count FROM counts ORDER BY count DESC, gram LIMIT {k})
SELECT gram, count,
  CAST(ROW_NUMBER() OVER (ORDER BY count DESC, gram) AS INT) AS rnk
FROM top
"""


def duck_hits_scores_sql(n_iters: int = 3) -> str:
    """DuckDB twin of rank.hits_scores: the same fixed max-normalized
    integer-micro iterations as chained CTEs (h0/a0 -> sa1/a1/sh1/h1 ->
    ...). Integer sums of integer products are associative, so the
    comparison is exact, not merely 1e-6-close."""
    parts = [
        HOST_EDGES_CTE.strip().rstrip(),
        """nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host AS host FROM edges
)""",
        "h0 AS (SELECT host, CAST(1000000 AS BIGINT) AS m FROM nodes)",
    ]

    def half(k: int, prev: str, edge_key: str, out_key: str, out: str) -> None:
        parts.append(
            f"""s{out}{k} AS (
  SELECT e.{out_key} AS host, CAST(SUM(p.m * e.weight) AS BIGINT) AS s
  FROM edges e JOIN {prev} p ON p.host = e.{edge_key}
  GROUP BY e.{out_key}
)"""
        )
        parts.append(
            f"""f{out}{k} AS (
  SELECT n.host, CAST(COALESCE(s.s, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN s{out}{k} s ON s.host = n.host
)"""
        )
        parts.append(
            f"m{out}{k} AS (SELECT CAST(GREATEST(MAX(s), 1) AS BIGINT) AS mx FROM f{out}{k})"
        )
        parts.append(
            f"""{out}{k} AS (
  SELECT host, CAST(ROUND(s / (SELECT mx FROM m{out}{k}) * 1000000.0) AS BIGINT) AS m
  FROM f{out}{k}
)"""
        )

    prev_h = "h0"
    for k in range(1, n_iters + 1):
        half(k, prev_h, "src_host", "dst_host", "a")
        half(k, f"a{k}", "dst_host", "src_host", "h")
        prev_h = f"h{k}"
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT n.host,
  ROUND(a.m / 1000000.0, 6) AS authority,
  ROUND(h.m / 1000000.0, 6) AS hub
FROM nodes n
JOIN a{n_iters} a ON a.host = n.host
JOIN h{n_iters} h ON h.host = n.host
"""


# Deterministic robots.txt corpus synthesized from the orders hosts
# (same text parses in Spark SQL and DuckDB). Three shapes: a '*'-only
# group, an exact-UA group followed by a '*' group (exact must win), and
# a foreign-UA-only file (no applicable rules -> host absent from the
# parsed output).
ROBOTS_DOCS_CTE = """
robots_docs AS (
  SELECT 'host' || CAST(h AS STRING) AS host,
    CASE
      WHEN h % 3 = 0 THEN '# blanket rules' || chr(10)
        || 'User-agent: *' || chr(10)
        || 'Disallow: /private' || chr(10)
        || 'Disallow: /tmp' || CAST(h AS STRING) || chr(10)
        || 'Crawl-delay: ' || CAST(h % 4 AS STRING)
      WHEN h % 3 = 1 THEN 'User-agent: pathik' || chr(10)
        || 'User-agent: otherbot' || chr(10)
        || 'Disallow: /api/' || CAST(h AS STRING) || chr(10)
        || 'Allow: /api/public' || chr(10)
        || 'Crawl-delay: 0.5' || chr(10)
        || 'User-agent: *' || chr(10)
        || 'Disallow: /everything'
      ELSE 'User-agent: GoogleBot' || chr(10) || 'Disallow: /g  # trailing comment'
    END AS robots_txt
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
)
"""


# Robots corpus with Sitemap: directives (group-independent "other
# records"): a plain directive, an UPPERCASE field with a trailing
# comment, an invalid-scheme URL (F1-filtered) and an exact duplicate
# (collapsed by the distinct). Separate CTE from ROBOTS_DOCS_CTE so the
# long-green robots_parse input stays byte-identical.
ROBOTS_SITEMAP_DOCS_CTE = """
robots_sitemap_docs AS (
  SELECT 'host' || CAST(h AS STRING) AS host,
    'User-agent: *' || chr(10)
    || 'Disallow: /private' || chr(10)
    || 'Sitemap: https://host' || CAST(h AS STRING) || '.example/sitemap.xml' || chr(10)
    || 'SITEMAP:   https://host' || CAST(h AS STRING) || '.example/sitemap-news.xml   # news index' || chr(10)
    || 'Sitemap: ftp://bad' || CAST(h AS STRING) || '.example/sm.xml' || chr(10)
    || 'Sitemap: https://host' || CAST(h AS STRING) || '.example/sitemap.xml' AS robots_txt
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
)
"""


def _sm_entries_channel_ctes(d) -> str:
    """Shared CTE chain for the sitemap-lastmod channel (ends in ``sm``
    (host, url, lastmod DATE)) — used by duck_sitemap_entries_sql and
    duck_discover_seeds_sql so the two oracles can never drift."""
    return f"""sm_blocks AS (
  SELECT host, unnest(regexp_extract_all(sitemap_xml, '<url>(.*?)</url>', 1)) AS block
  FROM sitemap_lastmod_docs
),
sm_parsed AS (
  SELECT host,
    trim(regexp_extract(block, '<loc>\\s*([^<]+?)\\s*</loc>', 1)) AS url,
    TRY_CAST(substr(trim(regexp_extract(block, '<lastmod>\\s*([^<]+?)\\s*</lastmod>', 1)), 1, 10) AS DATE) AS lastmod
  FROM sm_blocks
),
sm AS (
  SELECT host, url, MAX(lastmod) AS lastmod
  FROM sm_parsed WHERE {_valid_pred(d)} GROUP BY host, url
)"""


def _feed_urls_channel_ctes(d) -> str:
    """Shared CTE chain for the feed channel (ends in ``fe`` (host,
    url) distinct) — duck_feed_urls_sql / duck_discover_seeds_sql."""
    return f"""fe_locs AS (
  SELECT host, trim(unnest(
      regexp_extract_all(feed_xml, '(?i)<link>\\s*([^<]+?)\\s*</link>', 1)
      || regexp_extract_all(feed_xml, '(?i)<link[^>]*href="([^"]+)"', 1)
      || regexp_extract_all(feed_xml, '(?i)<guid[^>]*>\\s*(http[^<]*?)\\s*</guid>', 1)
  )) AS url
  FROM feed_docs
),
fe AS (SELECT DISTINCT host, url FROM fe_locs WHERE {_valid_pred(d)})"""


def _robots_sitemaps_channel_ctes(d) -> str:
    """Shared CTE chain for the robots Sitemap: channel (ends in ``rs``
    (host, url) distinct) — duck_robots_sitemaps_sql /
    duck_discover_seeds_sql."""
    return f"""rs_lines AS (
  SELECT host, unnest(string_split(robots_txt, chr(10))) AS raw
  FROM robots_sitemap_docs
),
rs_cleaned AS (
  SELECT host, trim(regexp_replace(raw, '#.*$', '', 'g')) AS line FROM rs_lines
),
rs_locs AS (
  SELECT host,
         lower(trim(split_part(line, ':', 1))) AS field,
         trim(substr(line, instr(line, ':') + 1, length(line))) AS url
  FROM rs_cleaned WHERE instr(line, ':') > 0
),
rs AS (
  SELECT DISTINCT host, url FROM rs_locs WHERE field = 'sitemap' AND {_valid_pred(d)}
)"""


def duck_robots_sitemaps_sql() -> str:
    """DuckDB twin of robots_sitemap_urls (operators/robots.py): line
    explode, comment strip, case-insensitive ``sitemap`` field match,
    F1 validity filter, per-host distinct — over the synthesized
    ROBOTS_SITEMAP_DOCS_CTE corpus."""
    d = DUCK
    return f"""
WITH {ROBOTS_SITEMAP_DOCS_CTE.strip()},
{_robots_sitemaps_channel_ctes(d)}
SELECT host, url FROM rs
"""


def duck_bucket_balanced_sql(n_planes: int = 4, dim: int = 64, k: int = 3) -> str:
    """DuckDB twin of bucket_balanced_sample (operators/sampling.py):
    SRP buckets via _lsh_bucket_ctes (hyperplanes as literals), then
    ROW_NUMBER() per bucket ordered by vec_id, capped at k."""
    return f"""
WITH {_lsh_bucket_ctes(n_planes, dim, "WHERE vec_id < 200")},
ranked AS (
  SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS INT) AS rnk
  FROM buckets
)
SELECT vec_id, bucket, rnk FROM ranked WHERE rnk <= {k}
"""


def duck_host_components_sql(min_weight: int = 2) -> str:
    """DuckDB twin of host_components (operators/rank.py): mutual
    weight-filtered host pairs -> connected components via recursive
    min-label propagation (the engine's large-star/small-star loop
    computes the same component-min labeling) over HOST_EDGES_CTE."""
    return f"""
WITH RECURSIVE {HOST_EDGES_CTE.strip()},
fil AS (SELECT src_host, dst_host FROM edges WHERE weight >= {min_weight}),
mut AS (
  SELECT e.src_host, e.dst_host FROM fil e
  JOIN (SELECT DISTINCT src_host, dst_host FROM fil) r
    ON r.src_host = e.dst_host AND r.dst_host = e.src_host
),
nodes AS (
  SELECT src_host AS host FROM mut UNION SELECT dst_host FROM mut
),
sym AS (
  SELECT src_host AS u, dst_host AS v FROM mut
  UNION
  SELECT dst_host AS u, src_host AS v FROM mut
),
reach AS (
  SELECT host AS u, host AS label FROM nodes
  UNION
  SELECT s.u, r.label FROM sym s JOIN reach r ON s.v = r.u
),
labels AS (SELECT u AS host, MIN(label) AS component_id FROM reach GROUP BY u),
csize AS (
  SELECT component_id, COUNT(*) AS component_size FROM labels GROUP BY component_id
)
SELECT l.host, l.component_id, c.component_size
FROM labels l JOIN csize c ON c.component_id = l.component_id
"""


def duck_host_backoff_sql() -> str:
    """DuckDB twin of backoff_budgets (operators/metrics.py): the same
    integer AIMD law — err basis points >= threshold halves (floor 2),
    healthy +5 (cap 100), stats-absent hosts carry their previous
    budget, prev-absent hosts start at base 64 — over synthesized
    per-host stats (error rate ~ (host%10)/10) and prev budgets."""
    return """
WITH stats AS (
  SELECT 'host' || CAST(o_orderkey % 45 AS VARCHAR) AS host,
         COUNT(*) AS n_urls,
         SUM(CASE WHEN o_custkey % 10 < (o_orderkey % 45) % 10 THEN 1 ELSE 0 END) AS n_errors
  FROM orders GROUP BY o_orderkey % 45
),
prev AS (
  SELECT 'host' || CAST(h AS VARCHAR) AS host, h * 7 % 90 + 10 AS prev_budget
  FROM (SELECT DISTINCT o_orderkey % 60 AS h FROM orders) WHERE h % 3 = 0
),
j AS (
  SELECT COALESCE(s.host, p.host) AS host, s.n_urls, s.n_errors, p.prev_budget
  FROM stats s FULL OUTER JOIN prev p ON s.host = p.host
)
SELECT host,
  CAST(CASE
    WHEN n_urls IS NULL THEN COALESCE(prev_budget, 64)
    WHEN floor(n_errors * 10000 / n_urls) >= 3000
      THEN greatest(2, floor(COALESCE(prev_budget, 64) / 2))
    ELSE least(100, COALESCE(prev_budget, 64) + 5)
  END AS BIGINT) AS max_per_round
FROM j
"""


# Soft-404 corpus (shared dialect: runs in Spark SQL and DuckDB): an
# up-front error banner (flagged), a marker buried past the head window
# (not flagged), a tiny page without markers, and untouched docs.
SOFT404_DOCS_CTE = """
soft404_docs AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 7 = 0 THEN 'Error 404 - Page Not Found. ' || substr(text, 1, 200)
      WHEN doc_id % 7 = 1 THEN substr(text, 1, 600) || ' (page not found)'
      WHEN doc_id % 7 = 2 THEN substr(text, 1, 120)
      ELSE text
    END AS text
  FROM documents WHERE doc_id < 400
)
"""


def duck_soft404_sql() -> str:
    """DuckDB twin of soft404_signals (operators/quality.py): the same
    head-window marker match + tiny-length flag over SOFT404_DOCS_CTE."""
    from pathik_spark.operators.quality import (
        SOFT404_HEAD_CHARS,
        SOFT404_MARKERS,
        SOFT404_TINY_CHARS,
    )

    marker = " OR ".join(
        f"instr(lower(substr(text, 1, {SOFT404_HEAD_CHARS})), '{m}') > 0"
        for m in SOFT404_MARKERS
    )
    return f"""
WITH {SOFT404_DOCS_CTE.strip()}
SELECT doc_id,
  CAST(({marker}) AS INT) AS has_marker,
  CAST(length(text) < {SOFT404_TINY_CHARS} AS INT) AS tiny,
  CAST(({marker}) AS INT) AS is_soft404
FROM soft404_docs
"""


def duck_cdc_chunks_sql(window: int = 3, avg_chunk: int = 4, n_docs: int = 80) -> str:
    """DuckDB twin of cdc_chunk_hashes (operators/dedup.py): the same
    content-defined boundaries (portable md5-60bit gram hash % avg ==
    0), span hashing and explode, via list functions."""
    ph = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
    gram = ph.format(
        x=f"array_to_string(list_slice(toks, e - {window} + 1, e), ' ')"
    )
    chunk = ph.format(
        x="array_to_string(list_slice(toks, starts[i], ends[i]), ' ')"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < {n_docs}
),
base AS (
  SELECT doc_id, string_split(norm, ' ') AS toks, len(string_split(norm, ' ')) AS n
  FROM docs WHERE norm <> ''
),
cutted AS (
  SELECT doc_id, toks, n,
    CASE WHEN n > {window}
      THEN list_filter(range({window}, n), e -> {gram} % {avg_chunk} = 0)
      ELSE [] END AS cuts
  FROM base
),
spanned AS (
  SELECT doc_id, toks,
    [1] || list_transform(cuts, c -> c + 1) AS starts,
    cuts || [n] AS ends
  FROM cutted
),
chunked AS (
  SELECT doc_id,
    list_transform(range(1, len(starts) + 1), i -> {chunk}) AS chunks
  FROM spanned
)
SELECT doc_id,
  generate_subscripts(chunks, 1) - 1 AS chunk_idx,
  unnest(chunks) AS chunk_hash,
  len(chunks) AS n_chunks
FROM chunked
"""


def duck_cdc_near_pairs_sql(
    window: int = 3,
    avg_chunk: int = 4,
    n_docs: int = 80,
    threshold: float = 0.5,
    max_df: int = 20,
) -> str:
    """DuckDB twin of cdc_near_pairs over cdc_chunk_hashes: distinct
    per-doc chunk sets, max_df boilerplate-chunk drop, shared-chunk
    equi-join, containment = shared / min(n_chunks)."""
    chunks = duck_cdc_chunks_sql(window, avg_chunk, n_docs)
    return f"""
WITH chunks AS ({chunks}),
sets AS (SELECT DISTINCT doc_id, chunk_hash, n_chunks FROM chunks),
ok AS (
  SELECT chunk_hash FROM sets GROUP BY chunk_hash HAVING COUNT(*) <= {max_df}
),
filtered AS (SELECT s.* FROM sets s JOIN ok USING (chunk_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS shared,
         MIN(LEAST(a.n_chunks, b.n_chunks)) AS min_n
  FROM filtered a JOIN filtered b
    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, ROUND(shared / min_n, 6) AS containment
FROM pairs WHERE shared >= min_n * {threshold}
"""


def duck_discover_seeds_sql(now: str = "2025-06-15") -> str:
    """DuckDB twin of discover_seeds over the three synthesized intake
    corpora, composed from the SAME channel CTE helpers as the three
    single-channel oracles (so a channel fix cannot leave this one
    testing stale semantics): sitemap <lastmod> entries
    (freshness-tiered priority), feed URLs (tier 1), robots Sitemap:
    directives (tier 0); seq = the portable 60-bit url hash mod 1e12."""
    d = DUCK
    ph = "CAST(('0x' || substr(md5(url), 1, 15)) AS BIGINT)"
    return f"""
WITH {SITEMAP_LASTMOD_DOCS_CTE.strip()},
{FEED_DOCS_CTE.strip().lstrip()},
{ROBOTS_SITEMAP_DOCS_CTE.strip()},
{_sm_entries_channel_ctes(d)},
{_feed_urls_channel_ctes(d)},
{_robots_sitemaps_channel_ctes(d)},
unioned AS (
  SELECT url,
    CASE WHEN lastmod IS NULL THEN 3
         WHEN (DATE '{now}' - lastmod) <= 7 THEN 0
         WHEN (DATE '{now}' - lastmod) <= 30 THEN 1
         WHEN (DATE '{now}' - lastmod) <= 365 THEN 2
         ELSE 3 END AS priority
  FROM sm
  UNION ALL SELECT url, 1 AS priority FROM fe
  UNION ALL SELECT url, 0 AS priority FROM rs
)
SELECT url, {ph} % 1000000000000 AS seq, CAST(priority AS INT) AS priority
FROM unioned
"""


# Meta-robots corpus (shared dialect): name-first, content-first with
# 'none', UPPERCASE name, a body that merely MENTIONS noindex (not a
# directive), two tags combining, and a plain page.
META_ROBOTS_DOCS_CTE = """
meta_robots_docs AS (
  SELECT 'https://host' || CAST(h AS STRING) || '.example/p' AS url,
    CASE
      WHEN h % 6 = 0 THEN '<html><head><meta name="robots" content="noindex, follow"></head><body>x</body></html>'
      WHEN h % 6 = 1 THEN '<html><head><meta content="none" name="robots"></head><body>x</body></html>'
      WHEN h % 6 = 2 THEN '<html><head><META NAME="robots" CONTENT="NOFOLLOW"></head><body>x</body></html>'
      WHEN h % 6 = 3 THEN '<html><body>this page mentions noindex and nofollow in prose</body></html>'
      WHEN h % 6 = 4 THEN '<html><head><meta name="robots" content="noarchive"><meta name="robots" content="nofollow"></head><body>x</body></html>'
      ELSE '<html><body>plain page</body></html>'
    END AS html
  FROM (SELECT DISTINCT o_orderkey % 36 AS h FROM orders)
)
"""


def duck_meta_robots_sql() -> str:
    """DuckDB twin of meta_robots_directives (operators/robots.py):
    both attribute orders, case-insensitive, token-exact comma-split
    directive matching, 'none' implying both — over
    META_ROBOTS_DOCS_CTE."""
    p1 = "regexp_extract_all(html, '(?i)<meta[^>]*name=\"robots\"[^>]*content=\"([^\"]*)\"', 1)"
    p2 = "regexp_extract_all(html, '(?i)<meta[^>]*content=\"([^\"]*)\"[^>]*name=\"robots\"', 1)"
    return f"""
WITH {META_ROBOTS_DOCS_CTE.strip()},
ext AS (SELECT url, {p1} || {p2} AS contents FROM meta_robots_docs),
tok AS (
  SELECT url,
    flatten(list_transform(contents,
      c -> list_transform(string_split(c, ','), t -> lower(trim(t))))) AS toks
  FROM ext
)
SELECT url,
  CAST(list_contains(toks, 'noindex') OR list_contains(toks, 'none') AS INT) AS noindex,
  CAST(list_contains(toks, 'nofollow') OR list_contains(toks, 'none') AS INT) AS nofollow
FROM tok
"""


# rel=canonical corpus (shared dialect): 60 pages over 6 hosts with a
# directory-bearing base path so relative hrefs have real resolution
# work. Variants cover: absolute cross-host target, root-relative,
# href-before-rel attribute order, uppercase tag/attr/value,
# empty href, fragment-carrying relative, no declaration, two
# declarations (first wins), dot-segment relative, and a mailto:
# target (resolves to a non-http URL -> dropped as invalid).
CANONICAL_DOCS_CTE = """
canonical_docs AS (
  SELECT 'https://host' || CAST(h % 6 AS STRING) || '.example/dir/sub/page' || CAST(h AS STRING) AS url,
    CASE
      WHEN h % 10 = 0 THEN '<html><head><link rel="canonical" href="https://canon.example/c' || CAST(h % 4 AS STRING) || '"></head><body>x</body></html>'
      WHEN h % 10 = 1 THEN '<html><head><link rel="canonical" href="/canon/p' || CAST(h % 5 AS STRING) || '"></head><body>x</body></html>'
      WHEN h % 10 = 2 THEN '<html><head><link href="../up/u' || CAST(h % 3 AS STRING) || '" rel="canonical"></head><body>x</body></html>'
      WHEN h % 10 = 3 THEN '<html><head><LINK REL="CANONICAL" HREF="//cdn.example/x' || CAST(h % 2 AS STRING) || '"></head><body>x</body></html>'
      WHEN h % 10 = 4 THEN '<html><head><link rel="canonical" href=""></head><body>x</body></html>'
      WHEN h % 10 = 5 THEN '<html><head><link rel="canonical" href="self' || CAST(h AS STRING) || '#frag"></head><body>x</body></html>'
      WHEN h % 10 = 6 THEN '<html><head><link rel="stylesheet" href="/s.css"></head><body>no declaration</body></html>'
      WHEN h % 10 = 7 THEN '<html><head><link rel="canonical" href="/first' || CAST(h % 3 AS STRING) || '"><link rel="canonical" href="/second"></head><body>x</body></html>'
      WHEN h % 10 = 8 THEN '<html><head><link rel="canonical" href="a/../b/./c' || CAST(h % 4 AS STRING) || '"></head><body>x</body></html>'
      ELSE '<html><head><link rel="canonical" href="mailto:a@b.example"></head><body>x</body></html>'
    END AS html
  FROM (SELECT DISTINCT o_orderkey % 60 AS h FROM orders)
)
"""


def _duck_canonical_links_cte() -> str:
    """links(url, canonical_url) — DuckDB twin of
    operators/aliases.extract_canonical_links over CANONICAL_DOCS_CTE:
    first-tag-wins two-step regex parse, shared-resolver resolution,
    F1 validity gate (via _valid_pred on the candidate)."""
    tag = (
        "coalesce(regexp_extract(html,"
        " '(?i)(<link[^>]*rel=\"canonical\"[^>]*>)', 1), '')"
    )
    href = "trim(coalesce(regexp_extract(tag, '(?i)href=\"([^\"]*)\"', 1), ''))"
    return f"""{CANONICAL_DOCS_CTE.strip()},
canon_tags AS (SELECT url, {tag} AS tag FROM canonical_docs),
canon_hrefs AS (SELECT url, {href} AS href FROM canon_tags),
canon_resolved AS (
  SELECT url AS page_url, href, {_duck_resolve('url', 'href')} AS url
  FROM canon_hrefs
),
links AS (
  SELECT page_url AS url,
    CASE WHEN href = '' THEN ''
         WHEN NOT ({_valid_pred(DUCK)}) THEN ''
         ELSE url END AS canonical_url
  FROM canon_resolved
)"""


def duck_canonical_links_sql() -> str:
    return f"""
WITH {_duck_canonical_links_cte()}
SELECT url, canonical_url FROM links
"""


def duck_canonical_collapse_sql() -> str:
    """DuckDB twin of operators/aliases.canonical_collapse over the
    extracted links: group by coalesce(canonical, url); representative
    prefers the canonical page itself, then the smallest alias URL —
    stated here as a min over a rank-prefixed string (identical order
    to the engine's (rank, url) struct min_by)."""
    return f"""
WITH {_duck_canonical_links_cte()},
groups AS (
  SELECT coalesce(nullif(canonical_url, ''), url) AS canonical_url, url
  FROM links
)
SELECT canonical_url,
  CAST(COUNT(*) AS BIGINT) AS n_aliases,
  substr(MIN(CASE WHEN url = canonical_url THEN 'a:' || url
                  ELSE 'b:' || url END), 3) AS representative_url
FROM groups GROUP BY canonical_url
"""


# Focused-crawl corpus (shared dialect): 84 frontier URLs over 9
# hosts; anchors mix topical text, boilerplate ("read more"), empty
# strings and noise; the UNION arm adds multi-inlink fan-in and
# boilerplate multiplicity. URLs with h%4==0 carry topic terms in the
# path so the URL-token channel has real work too.
FOCUSED_ANCHORS_CTE = """
focused_anchors AS (
  SELECT 'https://t' || CAST(h % 9 AS STRING) || '.example/' ||
      CASE WHEN h % 4 = 0 THEN 'spark/tutorial-' ELSE 'page-' END
      || CAST(h AS STRING) AS dst_url,
    CASE
      WHEN h % 7 = 0 THEN 'Spark streaming tutorial'
      WHEN h % 7 = 1 THEN 'read more'
      WHEN h % 7 = 2 THEN 'DEDUP at scale with spark'
      WHEN h % 7 = 3 THEN 'click here'
      WHEN h % 7 = 4 THEN 'crawl, dedup & parquet!'
      WHEN h % 7 = 5 THEN ''
      ELSE 'unrelated kittens'
    END AS anchor
  FROM (SELECT DISTINCT o_orderkey % 84 AS h FROM orders)
  UNION ALL
  SELECT 'https://t' || CAST(h % 9 AS STRING) || '.example/' ||
      CASE WHEN h % 4 = 0 THEN 'spark/tutorial-' ELSE 'page-' END
      || CAST(h AS STRING) AS dst_url,
    CASE WHEN h % 3 = 0 THEN 'read more' ELSE 'spark tutorial' END AS anchor
  FROM (SELECT DISTINCT o_orderkey % 84 AS h FROM orders) WHERE h % 2 = 0
)
"""

# (term, integer micro weight) topic profile — one source of truth for
# the Spark-side broadcast table and the oracle's VALUES list.
FOCUSED_TOPIC = [
    ("spark", 100),
    ("dedup", 80),
    ("crawl", 60),
    ("parquet", 50),
    ("tutorial", 30),
]


def duck_focused_frontier_sql() -> str:
    """DuckDB twin of operators/focused.focused_frontier_scores over
    FOCUSED_ANCHORS_CTE + FOCUSED_TOPIC: identical tokenization
    ([^a-z0-9]+ split, empties dropped), occurrence-weighted matched
    anchor tokens, URL path+query token weights, matched-inlink count."""
    values = ", ".join(f"('{t}', {w})" for t, w in FOCUSED_TOPIC)
    tok = (
        "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )
    return f"""
WITH {FOCUSED_ANCHORS_CTE.strip()},
topic(term, weight_micro) AS (SELECT * FROM (VALUES {values})),
grouped AS (
  SELECT dst_url, anchor, COUNT(*) AS n_links
  FROM focused_anchors GROUP BY dst_url, anchor
),
atoks AS (
  SELECT dst_url, n_links, unnest({tok.format(c='anchor')}) AS term
  FROM grouped
),
ascore AS (
  SELECT dst_url, SUM(weight_micro * n_links) AS anchor_score_micro
  FROM atoks JOIN topic USING (term) GROUP BY dst_url
),
tlist AS (SELECT list(term) AS terms FROM topic),
hits AS (
  SELECT dst_url,
    SUM(CASE WHEN list_has_any({tok.format(c='anchor')}, terms)
             THEN n_links ELSE 0 END) AS n_hit_inlinks
  FROM grouped, tlist GROUP BY dst_url
),
urls AS (SELECT DISTINCT dst_url FROM focused_anchors),
utoks AS (
  SELECT dst_url, unnest({tok.format(c=(
      "coalesce(regexp_extract(dst_url,"
      " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '')"))}) AS term
  FROM urls
),
uscore AS (
  SELECT dst_url, SUM(weight_micro) AS url_score_micro
  FROM utoks JOIN topic USING (term) GROUP BY dst_url
)
SELECT urls.dst_url AS url,
  CAST(COALESCE(anchor_score_micro, 0) AS BIGINT) AS anchor_score_micro,
  CAST(COALESCE(url_score_micro, 0) AS BIGINT) AS url_score_micro,
  CAST(COALESCE(n_hit_inlinks, 0) AS BIGINT) AS n_hit_inlinks,
  CAST(COALESCE(anchor_score_micro, 0) + COALESCE(url_score_micro, 0)
       AS BIGINT) AS score_micro
FROM urls
LEFT JOIN ascore ON urls.dst_url = ascore.dst_url
LEFT JOIN uscore ON urls.dst_url = uscore.dst_url
LEFT JOIN hits ON urls.dst_url = hits.dst_url
"""


def transfer_headers_sql() -> str:
    """(url, payload) wire-header corpus for the transfer_meta oracle —
    strata: bare 200, gzip, chunked+deflate, case+identity-token
    cleanup, a TE list containing chunked, and an unsupported coding
    label (br). CRLF via chr() so the literal runs in both engines."""
    crlf = "chr(13) || chr(10)"
    lines = {
        0: "'HTTP/1.1 200 OK' || {c} || 'Content-Length: 5'",
        1: "'HTTP/1.1 200 OK' || {c} || 'Content-Encoding: gzip'",
        2: (
            "'HTTP/1.1 200 OK' || {c} || 'Transfer-Encoding: chunked' || {c} "
            "|| 'Content-Encoding: deflate'"
        ),
        3: "'HTTP/1.1 200 OK' || {c} || 'Content-Encoding: GZip, identity'",
        4: "'HTTP/1.1 200 OK' || {c} || 'Transfer-Encoding: gzip, chunked'",
        5: "'HTTP/1.1 200 OK' || {c} || 'Content-Encoding: br'",
    }
    whens = "\n    ".join(
        f"WHEN {k} THEN {v.format(c=crlf)}" for k, v in lines.items()
    )
    return f"""
SELECT 'http://t' || CAST(doc_id % 5 AS STRING) || '.example/w/' || CAST(doc_id AS STRING) AS url,
  (CASE doc_id % 6
    {whens}
  END) || {crlf} || {crlf} || 'body' AS payload
FROM documents WHERE doc_id < 180
"""


def duck_transfer_meta_sql() -> str:
    """DuckDB twin of operators/transfer.transfer_meta: header-block
    split, case-insensitive header match, comma-split content codings
    with identity tokens dropped, chunked flag from the TE list."""
    crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    hdr = f"split_part(payload, {crlf2}, 1)"
    te = (
        f"lower(coalesce(regexp_extract({hdr},"
        f" '(?im)^Transfer-Encoding:[ \\t]*([^\\r\\n]+)', 1), ''))"
    )
    ce = (
        f"lower(coalesce(regexp_extract({hdr},"
        f" '(?im)^Content-Encoding:[ \\t]*([^\\r\\n]+)', 1), ''))"
    )
    return f"""
WITH corpus AS ({transfer_headers_sql().strip()})
SELECT url,
  contains({te}, 'chunked') AS chunked,
  coalesce(array_to_string(
    list_filter(list_transform(string_split({ce}, ','), t -> trim(t)),
                t -> t <> '' AND t <> 'identity'),
    ','), '') AS content_encoding
FROM corpus
"""


def duck_http_body_decode_sql() -> str:
    """DuckDB twin of the wire round-trip (operators/transfer
    encode_http_bodies -> decode_http_bodies): decode∘encode must be
    the identity on the entity bytes — witnessed per row by md5 over
    the document text — with the applied-layer label and ok flag
    stated from the encode stratum."""
    return """
SELECT 'doc://' || CAST(doc_id AS STRING) AS url,
  CASE doc_id % 4
    WHEN 0 THEN ''
    WHEN 1 THEN 'gzip'
    WHEN 2 THEN 'chunked,deflate'
    ELSE 'chunked,gzip'
  END AS applied,
  true AS ok,
  md5(text) AS md5
FROM documents WHERE doc_id < 240 AND text IS NOT NULL
"""


def duck_surt_keys_sql() -> str:
    """DuckDB twin of functions/urls.surt_key_expr over the URLS_CTE
    strata (mixed case, default + nonstandard ports, query reorder,
    fragment, empty path): lowercase, drop scheme/userinfo/fragment
    and default ports, reverse host labels, '/' for the empty path,
    bytewise-sorted query parameters."""
    u = "regexp_replace(lower(trim(url)), '#.*$', '')"
    netloc = f"coalesce(regexp_extract({u}, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1), '')"
    return f"""
WITH {URLS_CTE.strip()},
valid AS (SELECT id, url FROM urls_cte WHERE {_valid_pred(DUCK)}),
parts AS (
  SELECT id,
    regexp_replace(regexp_replace({netloc}, '^[^@]*@', ''), ':[0-9]*$', '') AS host,
    coalesce(regexp_extract(regexp_replace({netloc}, '^[^@]*@', ''), ':([0-9]+)$', 1), '') AS port,
    coalesce(regexp_extract({u}, '^([a-z][a-z0-9+.-]*)://', 1), '') AS scheme,
    coalesce(regexp_extract({u}, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS path,
    coalesce(regexp_extract({u}, '\\?([^#]*)', 1), '') AS query
  FROM valid
)
SELECT id,
  array_to_string(list_reverse(string_split(host, '.')), ',')
  || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
            OR (scheme = 'https' AND port = '443')
          THEN '' ELSE ':' || port END
  || ')'
  || CASE WHEN path = '' THEN '/' ELSE path END
  || CASE WHEN query = '' THEN ''
          ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END
  AS surt
FROM parts
"""


# CDXJ line corpus (shared dialect): key + 14-digit ts + JSON block;
# doc_id%3==0 rows carry the full CC field set, %3==1 the minimal set
# (mime/status/digest must come back NULL), %3==2 a different month and
# a 3xx status.
CDXJ_LINES_CTE = """
cdxj_lines AS (
  SELECT 'com,site' || CAST(doc_id % 9 AS STRING) || ')/p/' || CAST(doc_id AS STRING)
    || ' ' || CASE WHEN doc_id % 3 = 2 THEN '2024041512300' ELSE '2024030112000' END || CAST(doc_id % 10 AS STRING)
    || ' {"url": "https://site' || CAST(doc_id % 9 AS STRING) || '.com/p/' || CAST(doc_id AS STRING) || '"'
    || ', "filename": "crawl/seg' || CAST(doc_id % 4 AS STRING) || '/a.warc.gz"'
    || ', "offset": "' || CAST(doc_id * 1021 AS STRING) || '"'
    || ', "length": "' || CAST(300 + doc_id % 700 AS STRING) || '"'
    || CASE WHEN doc_id % 3 = 0 THEN ', "mime": "text/html", "status": "200", "digest": "SHA1' || CAST(doc_id AS STRING) || '"'
            WHEN doc_id % 3 = 2 THEN ', "status": "301"'
            ELSE '' END
    || '}' AS line
  FROM documents WHERE doc_id < 210
)
"""


def duck_cdxj_parse_sql() -> str:
    """DuckDB twin of sources/cdxj.parse_cdxj_lines over
    CDXJ_LINES_CTE: two space-split key fields, strptime'd ts14, JSON
    field extraction with typed offset/length/status and NULL for
    absent fields."""
    js = "coalesce(regexp_extract(line, '^[^ ]+ [^ ]+ (.*)$', 1), '')"
    return f"""
WITH {CDXJ_LINES_CTE.strip()}
SELECT split_part(line, ' ', 1) AS urlkey,
  strptime(split_part(line, ' ', 2), '%Y%m%d%H%M%S') AS ts,
  json_extract_string({js}, '$.url') AS url,
  json_extract_string({js}, '$.filename') AS filename,
  CAST(json_extract_string({js}, '$.offset') AS BIGINT) AS offset,
  CAST(json_extract_string({js}, '$.length') AS BIGINT) AS length,
  coalesce(json_extract_string({js}, '$.mime'), '') AS mime,
  coalesce(CAST(json_extract_string({js}, '$.status') AS INT), -1) AS status,
  coalesce(json_extract_string({js}, '$.digest'), '') AS digest
FROM cdxj_lines
"""


def duck_exact_k_sample_sql(k: int = 150) -> str:
    """DuckDB twin of exact_k_sample (operators/sampling.py): the k
    smallest salted portable hashes over the documents keys."""
    return f"""
SELECT doc_id FROM (
  SELECT doc_id,
    CAST(('0x' || substr(md5('ksample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
) ORDER BY h LIMIT {k}
"""


# Mirror corpus (shared dialect): 240 pages spread over 12 hosts, page
# content keyed by doc_id % 40 — so hosts serve overlapping content
# sets and the containment join has real work to verify.
MIRROR_DOCS_CTE = """
mirror_docs AS (
  SELECT d.doc_id, 'h' || CAST(d.doc_id % 12 AS STRING) AS host, b.text AS text
  FROM (SELECT doc_id FROM documents WHERE doc_id < 240) d
  JOIN documents b ON b.doc_id = d.doc_id % 40
)
"""


def duck_host_mirror_sql(threshold: float = 0.5) -> str:
    """DuckDB twin of host_mirror_pairs (operators/dedup.py): per-host
    distinct content hashes, shared-hash equi-join, containment =
    shared / min distinct pages — over MIRROR_DOCS_CTE."""
    return f"""
WITH {MIRROR_DOCS_CTE.strip()},
sets AS (
  SELECT DISTINCT host,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM mirror_docs
),
counts AS (SELECT host, COUNT(*) AS n_pages FROM sets GROUP BY host),
joined AS (
  SELECT a.host AS host_a, b.host AS host_b,
         COUNT(*) AS shared,
         MIN(LEAST(ca.n_pages, cb.n_pages)) AS min_n
  FROM sets a
  JOIN sets b ON a.content_hash = b.content_hash AND a.host < b.host
  JOIN counts ca ON ca.host = a.host
  JOIN counts cb ON cb.host = b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, shared, ROUND(shared / min_n, 6) AS containment
FROM joined WHERE shared >= min_n * {threshold}
"""


def duck_host_delay_backoff_sql() -> str:
    """DuckDB twin of backoff_delays (operators/metrics.py): the same
    integer exponential law — unhealthy doubles from max(prev, base,
    1000) capped at 60000, healthy halves back to the 500 base,
    stats-absent hosts carry — over the host_backoff dataset shapes."""
    return """
WITH stats AS (
  SELECT 'host' || CAST(o_orderkey % 45 AS VARCHAR) AS host,
         COUNT(*) AS n_urls,
         SUM(CASE WHEN o_custkey % 10 < (o_orderkey % 45) % 10 THEN 1 ELSE 0 END) AS n_errors
  FROM orders GROUP BY o_orderkey % 45
),
prev AS (
  SELECT 'host' || CAST(h AS VARCHAR) AS host, h * 137 % 50000 AS prev_delay
  FROM (SELECT DISTINCT o_orderkey % 60 AS h FROM orders) WHERE h % 3 = 0
),
j AS (
  SELECT COALESCE(s.host, p.host) AS host, s.n_urls, s.n_errors, p.prev_delay
  FROM stats s FULL OUTER JOIN prev p ON s.host = p.host
)
SELECT host,
  CAST(CASE
    WHEN n_urls IS NULL THEN COALESCE(prev_delay, 500)
    WHEN floor(n_errors * 10000 / n_urls) >= 3000
      THEN least(60000, greatest(COALESCE(prev_delay, 500), 500, 1000) * 2)
    ELSE greatest(500, floor(COALESCE(prev_delay, 500) / 2))
  END AS BIGINT) AS crawl_delay_ms
FROM j
"""


def duck_robots_parse_sql(user_agent: str = "pathik") -> str:
    """DuckDB twin of parse_robots_txt (operators/robots.py): the same
    relational parse — line explode, comment strip, directive filter,
    User-agent-run group ids via lag+sum windows, exact-over-star group
    selection, sorted-distinct rule aggregation — over the synthesized
    ROBOTS_DOCS_CTE corpus. Prefix arrays are '|'-joined for a scalar
    row shape."""
    ua = user_agent.lower()
    return f"""
WITH {ROBOTS_DOCS_CTE.strip()},
lines AS (
  SELECT host, generate_subscripts(ls, 1) AS pos, unnest(ls) AS raw
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls FROM robots_docs)
),
directives AS (
  SELECT host, pos,
         lower(trim(split_part(line, ':', 1))) AS field,
         trim(substr(line, instr(line, ':') + 1, length(line))) AS value
  FROM (SELECT host, pos, trim(regexp_replace(raw, '#.*$', '', 'g')) AS line FROM lines)
  WHERE instr(line, ':') > 0
    AND lower(trim(split_part(line, ':', 1)))
        IN ('user-agent', 'disallow', 'allow', 'crawl-delay')
),
flagged AS (
  SELECT host, pos, field, value,
         CASE WHEN field = 'user-agent'
                   AND COALESCE(LAG(CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END)
                                OVER (PARTITION BY host ORDER BY pos), 0) = 0
              THEN 1 ELSE 0 END AS _start
  FROM directives
),
grouped AS (
  SELECT host, pos, field, value,
         SUM(_start) OVER (PARTITION BY host ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS group_id
  FROM flagged
),
groups AS (
  SELECT host, group_id,
    MAX(CASE WHEN field = 'user-agent' AND lower(value) = '{ua}' THEN 1 ELSE 0 END) AS has_exact,
    MAX(CASE WHEN field = 'user-agent' AND value = '*' THEN 1 ELSE 0 END) AS has_star,
    COALESCE(list_sort(list_distinct(
        list(value) FILTER (WHERE field = 'disallow' AND value <> ''))), []) AS disallow,
    COALESCE(list_sort(list_distinct(
        list(value) FILTER (WHERE field = 'allow' AND value <> ''))), []) AS allow,
    MIN(CASE WHEN field = 'crawl-delay' THEN CAST(value AS DOUBLE) END) AS delay_s
  FROM grouped GROUP BY host, group_id
),
host_mode AS (SELECT host, MAX(has_exact) AS any_exact FROM groups GROUP BY host),
chosen AS (
  SELECT g.* FROM groups g JOIN host_mode m ON m.host = g.host
  WHERE (m.any_exact = 1 AND g.has_exact = 1)
     OR (m.any_exact = 0 AND g.has_star = 1)
)
SELECT host,
  CAST(MIN(delay_s) * 1000 AS BIGINT) AS crawl_delay_ms,
  COALESCE(array_to_string(list_sort(list_distinct(flatten(list(disallow)))), '|'), '') AS disallow_prefixes,
  COALESCE(array_to_string(list_sort(list_distinct(flatten(list(allow)))), '|'), '') AS allow_prefixes
FROM chosen GROUP BY host
"""


# Deterministic sitemap corpus from the orders hosts (same text parses
# in Spark SQL and DuckDB): each host's sitemap has a clean loc, a
# whitespace-padded loc (trim case), an invalid-scheme loc (filtered by
# the F1 predicate) and a duplicate (collapsed by the distinct).
SITEMAP_DOCS_CTE = """
sitemap_docs AS (
  SELECT 'host' || CAST(h AS STRING) AS host,
    '<?xml version="1.0"?><urlset>'
    || '<url><loc>https://host' || CAST(h AS STRING) || '.example/page' || CAST(h AS STRING) || '</loc></url>'
    || '<url><loc>  https://host' || CAST(h AS STRING) || '.example/padded  </loc></url>'
    || '<url><loc>ftp://bad' || CAST(h AS STRING) || '.example/x</loc></url>'
    || '<url><loc>https://host' || CAST(h AS STRING) || '.example/page' || CAST(h AS STRING) || '</loc></url>'
    || '</urlset>' AS sitemap_xml
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
)
"""


# Sitemap corpus with <lastmod> freshness (W3C datetime): a dated loc,
# a loc with no lastmod (null), a padded loc with a full datetime (date
# prefix kept), an invalid-scheme loc (filtered) and a duplicate loc
# with an OLDER lastmod (max wins).
SITEMAP_LASTMOD_DOCS_CTE = """
sitemap_lastmod_docs AS (
  SELECT 'host' || CAST(h AS STRING) AS host,
    '<?xml version="1.0"?><urlset>'
    || '<url><loc>https://host' || CAST(h AS STRING) || '.example/fresh</loc><lastmod>2025-06-' || lpad(CAST(h % 28 + 1 AS STRING), 2, '0') || '</lastmod></url>'
    || '<url><loc>https://host' || CAST(h AS STRING) || '.example/nolastmod</loc></url>'
    || '<url><loc>  https://host' || CAST(h AS STRING) || '.example/padded  </loc><lastmod>2025-01-15T08:30:00+00:00</lastmod></url>'
    || '<url><loc>ftp://bad' || CAST(h AS STRING) || '.example/x</loc><lastmod>2025-02-02</lastmod></url>'
    || '<url><loc>https://host' || CAST(h AS STRING) || '.example/fresh</loc><lastmod>2024-01-01</lastmod></url>'
    || '</urlset>' AS sitemap_xml
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
)
"""


def duck_sitemap_entries_sql() -> str:
    """DuckDB twin of extract_sitemap_entries (operators/discover.py):
    <url>-block extraction, per-block loc/lastmod, date-prefix cast, F1
    validity filter, newest-lastmod dedup — over the synthesized
    SITEMAP_LASTMOD_DOCS_CTE corpus."""
    d = DUCK
    return f"""
WITH {SITEMAP_LASTMOD_DOCS_CTE.strip()},
{_sm_entries_channel_ctes(d)}
SELECT host, url, COALESCE(CAST(lastmod AS VARCHAR), '') AS lastmod FROM sm
"""


# Deterministic syndication-feed corpus (RSS 2.0 + Atom rows per host),
# shared-dialect SQL like SITEMAP_DOCS_CTE: channel+item links, a
# padded dup, a permalink guid, a non-URL guid and an ftp link as
# negatives, and Atom href in both self/alternate roles.
FEED_DOCS_CTE = """
feed_docs AS (
  SELECT 'host' || CAST(h AS STRING) AS host,
    '<rss version="2.0"><channel>'
    || '<link>https://host' || CAST(h AS STRING) || '.example/</link>'
    || '<item><link>https://host' || CAST(h AS STRING) || '.example/post1</link></item>'
    || '<item><link>  https://host' || CAST(h AS STRING) || '.example/post1  </link></item>'
    || '<item><guid isPermaLink="true">https://host' || CAST(h AS STRING) || '.example/post2</guid></item>'
    || '<item><guid>tag-not-a-url-' || CAST(h AS STRING) || '</guid></item>'
    || '<item><link>ftp://bad' || CAST(h AS STRING) || '.example/x</link></item>'
    || '</channel></rss>' AS feed_xml
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
  UNION ALL
  SELECT 'host' || CAST(h AS STRING) AS host,
    '<feed>'
    || '<link rel="self" href="https://host' || CAST(h AS STRING) || '.example/feed.xml"/>'
    || '<entry><link href="https://host' || CAST(h AS STRING) || '.example/atom1" rel="alternate"/>'
    || '<id>https://host' || CAST(h AS STRING) || '.example/atom1</id></entry>'
    || '</feed>' AS feed_xml
  FROM (SELECT DISTINCT o_orderkey % 40 AS h FROM orders)
)
"""


def duck_feed_urls_sql() -> str:
    """DuckDB twin of extract_feed_urls (operators/discover.py): the
    three extraction patterns (RSS <link>, Atom href, permalink <guid>)
    list-concatenated then unnested, trim, F1 validity filter, per-host
    distinct — over the synthesized FEED_DOCS_CTE corpus."""
    d = DUCK
    return f"""
WITH {FEED_DOCS_CTE.strip()},
{_feed_urls_channel_ctes(d)}
SELECT host, url FROM fe
"""


RECRAWL_CUTOFF = "1996-01-01"


def duck_warc_headers_sql() -> str:
    """DuckDB twin of the WARC record header kernel (sinks.
    warc_record_rows over a synthesized payload): RFC3339 WARC-Date
    from the timestamp, deterministic md5-grouped urn:uuid record id,
    and the total record length arithmetic (header bytes + CRLFCRLF +
    payload + CRLFCRLF). Payload bytes are ``id % 50`` 'x' chars so the
    length math is checkable without a binary column."""
    d = DUCK
    h = "md5(url)"
    rid = (
        f"'urn:uuid:' || substr({h},1,8) || '-' || substr({h},9,4) || '-' || "
        f"substr({h},13,4) || '-' || substr({h},17,4) || '-' || substr({h},21,12)"
    )
    wd = "strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ')"
    payload_len = "(id % 50)"
    crlf = "chr(13) || chr(10)"
    header = (
        f"'WARC/1.0' || {crlf} || 'WARC-Type: resource' || {crlf} || "
        f"'WARC-Target-URI: ' || url || {crlf} || "
        f"'WARC-Date: ' || {wd} || {crlf} || "
        f"'WARC-Record-ID: <' || {rid} || '>' || {crlf} || "
        f"'Content-Type: text/html' || {crlf} || "
        f"'Content-Length: ' || CAST({payload_len} AS STRING)"
    )
    return f"""
WITH {URLS_CTE},
frontier AS (SELECT id, url, o_orderdate FROM urls_cte WHERE {_valid_pred(d)})
SELECT url, {wd} AS warc_date, {rid} AS record_id,
       CAST(length({header}) + 4 + {payload_len} + 4 AS BIGINT) AS record_len
FROM frontier
"""


def duck_url_recrawl_sql() -> str:
    """DuckDB twin of recrawl_filter (operators/seen.py): a seen record
    blocks only while its timestamp is at/after the cutoff (younger than
    the recrawl TTL); stale records expire and the URL re-enters."""
    d = DUCK
    return f"""
WITH {URLS_CTE},
frontier AS (SELECT id, url FROM urls_cte WHERE {_valid_pred(d)}),
seen AS (
  SELECT {d['HASH60']('url')} AS url_hash, o_orderdate AS seen_ts
  FROM urls_cte WHERE id % 3 = 0
)
SELECT f.id AS id, f.url AS url FROM frontier f
WHERE NOT EXISTS (
  SELECT 1 FROM seen s
  WHERE s.url_hash = {d['HASH60']('f.url')}
    AND s.seen_ts >= DATE '{RECRAWL_CUTOFF}'
)
"""


def duck_sitemap_urls_sql() -> str:
    """DuckDB twin of extract_sitemap_urls (operators/discover.py):
    regexp_extract_all over <loc> entries, trim, F1 validity filter,
    per-host distinct — over the synthesized SITEMAP_DOCS_CTE corpus."""
    d = DUCK
    return f"""
WITH {SITEMAP_DOCS_CTE.strip()},
locs AS (
  SELECT host,
         trim(unnest(regexp_extract_all(sitemap_xml, '<loc>\\s*([^<]+?)\\s*</loc>', 1))) AS url
  FROM sitemap_docs
)
SELECT DISTINCT host, url FROM locs WHERE {_valid_pred(d)}
"""


def duck_clean_corpus_sql(n_docs: int = 300) -> str:
    """DuckDB twin of clean_corpus (operators/quality.py): the composed
    training-data cleaning decision — language gate AND quality gate AND
    Gopher repetition gate AND near-dup canonical gate — built by
    joining the four already-oracled component subqueries on doc_id."""
    lang = q_lang_id(DUCK)
    qual = q_quality_score(DUCK)
    rep = duck_repetition_signals_sql()
    clus = duck_dedup_clusters_sql(n_docs)
    return f"""
SELECT c.doc_id, l.lang_guess, q.quality, r.keep AS rep_keep,
       c.cluster_id, c.cluster_size, c.is_canonical,
       (l.lang_guess IN ('en') AND q.quality >= 0.5
        AND r.keep AND c.is_canonical) AS keep
FROM ({clus}) c
JOIN ({lang}) l ON l.doc_id = c.doc_id
JOIN ({qual}) q ON q.doc_id = c.doc_id
JOIN ({rep}) r ON r.doc_id = c.doc_id
"""


def _ngram_shingles_cte(n: int) -> str:
    """DuckDB CTE fragment: ``shingles (doc_id, shingle)`` — DISTINCT
    word n-grams from the ``tokens`` CTE via an (n-1)-step positional
    self-join (word_shingles semantics, operators/dedup.py)."""
    aliases = [chr(ord("a") + i) for i in range(n)]
    concat = " || ' ' || ".join(f"{a}.tok" for a in aliases)
    joins = " ".join(
        f"JOIN tokens {aliases[i]} ON a.doc_id = {aliases[i]}.doc_id "
        f"AND {aliases[i]}.pos = a.pos + {i}"
        for i in range(1, n)
    )
    return f"shingles AS (SELECT DISTINCT a.doc_id, {concat} AS shingle FROM tokens a {joins})"


def duck_contamination_sql(n_docs: int = 300, n: int = 4, bench_mod: int = 7) -> str:
    """DuckDB twin of contamination (operators/decontaminate.py): the
    benchmark is the sub-corpus doc_id %% bench_mod == 0; its DISTINCT
    portable n-gram hashes are the collision set; per doc the distinct
    n-gram count and the collision count decide contaminated/keep."""
    d = DUCK
    h = d["HASH60"]("shingle")
    return f"""
WITH {_tokens_cte(d, where=f"WHERE doc_id < {n_docs}")},
{_ngram_shingles_cte(n)},
hashed AS (SELECT doc_id, {h} AS ngram_hash FROM shingles),
bench AS (SELECT DISTINCT ngram_hash FROM hashed WHERE doc_id % {bench_mod} = 0),
totals AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM hashed GROUP BY doc_id),
hits AS (
  SELECT doc_id, COUNT(*) AS n_collisions FROM hashed
  WHERE ngram_hash IN (SELECT ngram_hash FROM bench) GROUP BY doc_id
)
SELECT dd.doc_id,
  CAST(COALESCE(t.n_ngrams, 0) AS BIGINT) AS n_ngrams,
  CAST(COALESCE(h.n_collisions, 0) AS BIGINT) AS n_collisions,
  (COALESCE(h.n_collisions, 0) > 0) AS contaminated,
  (COALESCE(h.n_collisions, 0) = 0) AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id < {n_docs}) dd
LEFT JOIN totals t ON t.doc_id = dd.doc_id
LEFT JOIN hits h ON h.doc_id = dd.doc_id
"""


SAMPLE_SALT = "mix"
SAMPLE_DENOM = 1_000_000


def rates_sql(d) -> str:
    """Deterministic per-host rates table over the frontier hosts:
    rate = (hash60(host) %% 4) / 4 — the 0 stratum exercises the
    drop-absent/zero path, the 1/4..3/4 strata the lattice."""
    hostx = _netloc_of("url")
    return f"""
WITH {URLS_CTE}
SELECT DISTINCT {hostx} AS host,
       CAST(({d['HASH60'](hostx)} % 4) AS DOUBLE) / 4 AS rate
FROM urls_cte WHERE {_valid_pred(d)}
"""


def duck_stratified_sample_sql() -> str:
    """DuckDB twin of stratified_sample (operators/sampling.py): the
    frontier joined to the per-host rates table; keep iff the salted
    60-bit url bucket falls under rate * DENOM (exact integer compare
    on the same lattice the operator quantizes to)."""
    d = DUCK
    host = _netloc_of("url")
    bucket = d["HASH60"](f"'{SAMPLE_SALT}:' || url") + f" % {SAMPLE_DENOM}"
    return f"""
WITH {URLS_CTE},
frontier AS (
  SELECT id, url, {host} AS host FROM urls_cte WHERE {_valid_pred(d)}
),
rates AS (
  SELECT DISTINCT host, CAST(({d['HASH60']('host')} % 4) AS DOUBLE) / 4 AS rate
  FROM frontier
)
SELECT f.id, f.url, f.host FROM frontier f
JOIN rates r ON r.host = f.host
WHERE ({bucket}) < CAST(ROUND(r.rate * {SAMPLE_DENOM}) AS BIGINT)
"""


CHUNK_SEQ_LEN = 7
CHUNK_STRIDE = 5


def duck_chunk_documents_sql(n_docs: int = 200) -> str:
    """DuckDB twin of chunk_documents (operators/chunking.py): token
    windows of CHUNK_SEQ_LEN every CHUNK_STRIDE over the normalized
    whitespace tokens; list-slice + join restates the Spark slice/
    array_join expressions."""
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH toks_cte AS (
  SELECT doc_id, {d['SPLIT_WS'](norm)} AS toks,
         CASE WHEN {norm} = '' THEN 0 ELSE len({d['SPLIT_WS'](norm)}) END AS n
  FROM documents WHERE doc_id < {n_docs}
),
base AS (SELECT doc_id, toks, n FROM toks_cte WHERE n >= 1),
starts AS (
  SELECT doc_id, toks, n,
         generate_subscripts(generate_series(0, n - 1, {CHUNK_STRIDE}), 1) - 1 AS chunk_idx,
         unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS start_tok
  FROM base
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
  CAST(start_tok AS INT) AS start_tok,
  CAST(LEAST({CHUNK_SEQ_LEN}, n - start_tok) AS INT) AS n_tok,
  array_to_string(toks[start_tok + 1 : start_tok + LEAST({CHUNK_SEQ_LEN}, n - start_tok)], ' ') AS chunk_text
FROM starts
"""


PACK_SEQ_LEN = 16
PACK_SHARDS = 4


def duck_pack_stream_sql(n_docs: int = 200) -> str:
    """DuckDB twin of pack_token_stream (operators/chunking.py):
    shard by portable hash of doc_id, running token offsets per shard
    (window sum ordered by doc_id), explode each doc over the packs it
    straddles, segment arithmetic identical to the operator's."""
    d = DUCK
    norm = _norm_text(d, "text")
    L = PACK_SEQ_LEN
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN {norm} = '' THEN 0 ELSE len({d['SPLIT_WS'](norm)}) END AS n_tok_doc
  FROM documents WHERE doc_id < {n_docs}
    AND CASE WHEN {norm} = '' THEN 0 ELSE len({d['SPLIT_WS'](norm)}) END > 0
),
sharded AS (
  SELECT *, {d['HASH60']('CAST(doc_id AS STRING)')} % {PACK_SHARDS} AS shard FROM toks
),
offs AS (
  SELECT *, SUM(n_tok_doc) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS stream_end
  FROM sharded
),
spans AS (
  SELECT shard, doc_id, n_tok_doc,
         stream_end - n_tok_doc AS stream_start,
         CAST(FLOOR((stream_end - n_tok_doc) / {L}.0) AS BIGINT) AS first_pack,
         CAST(FLOOR((stream_end - 1) / {L}.0) AS BIGINT) AS last_pack
  FROM offs
),
packs AS (
  SELECT shard, doc_id, stream_start, n_tok_doc,
         unnest(generate_series(first_pack, last_pack)) AS local_pack
  FROM spans
)
SELECT shard * {1 << 40} + local_pack AS pack_id, doc_id,
  CAST(GREATEST(stream_start, local_pack * {L}) - stream_start AS BIGINT) AS doc_tok_start,
  CAST(LEAST(stream_start + n_tok_doc, local_pack * {L} + {L})
       - GREATEST(stream_start, local_pack * {L}) AS BIGINT) AS n_tok,
  CAST(GREATEST(stream_start, local_pack * {L}) - local_pack * {L} AS BIGINT) AS pack_tok_start
FROM packs
"""


# Deterministic trap-URL corpus: clean pages mixed with the four trap
# strata (deep path, path cycle, query explosion, long digit run) —
# same text renders in Spark SQL and DuckDB.
TRAP_URLS_CTE = """
trap_urls AS (
  SELECT o_orderkey AS id,
    CASE
      WHEN o_orderkey % 11 = 0 THEN 'https://t' || CAST(o_orderkey % 20 AS STRING) || '.example/s1/s2/s3/s4/s5/s6/s7/s8/s9/s10/s11/s12/s13'
      WHEN o_orderkey % 7 = 0 THEN 'https://t' || CAST(o_orderkey % 20 AS STRING) || '.example/a/b/a/b/a'
      WHEN o_orderkey % 5 = 0 THEN 'https://t' || CAST(o_orderkey % 20 AS STRING) || '.example/p?k1=1&k2=2&k3=3&k4=4&k5=5&k6=6&k7=7&k8=8&k9=9'
      WHEN o_orderkey % 3 = 0 THEN 'https://t' || CAST(o_orderkey % 20 AS STRING) || '.example/archive/' || CAST(20240000000000 + o_orderkey AS STRING) || '/post'
      ELSE 'https://t' || CAST(o_orderkey % 20 AS STRING) || '.example/sec' || CAST(o_custkey % 7 AS STRING) || '/page' || CAST(o_orderkey AS STRING) || '?a=1'
    END AS url
  FROM orders
)
"""


def duck_trap_signals_sql() -> str:
    """DuckDB twin of trap_signals (operators/traps.py): the engine's
    shuffle-free array expressions restated relationally — max segment
    multiplicity via explode + GROUP BY + MAX instead of the sorted-run
    aggregate (same value by construction)."""
    return f"""
WITH {TRAP_URLS_CTE.strip()},
parts AS (
  SELECT id, url,
    coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS path,
    coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS query
  FROM trap_urls
),
segs AS (
  SELECT id, unnest(list_filter(string_split(path, '/'), x -> x <> '')) AS seg
  FROM parts
),
rep AS (
  SELECT id, MAX(c) AS max_rep FROM (
    SELECT id, seg, COUNT(*) AS c FROM segs GROUP BY id, seg
  ) GROUP BY id
),
sig AS (
  SELECT p.id, p.url,
    CAST(len(list_filter(string_split(p.path, '/'), x -> x <> '')) AS INT) AS depth,
    CAST(COALESCE(r.max_rep, 0) AS INT) AS max_seg_repeat,
    CAST(CASE WHEN length(p.query) > 0 THEN len(string_split(p.query, '&')) ELSE 0 END AS INT) AS n_params,
    regexp_matches(p.path, '[0-9]{{8,}}') AS long_digit_run,
    CAST(length(p.url) AS INT) AS url_len
  FROM parts p LEFT JOIN rep r ON r.id = p.id
)
SELECT id, url, depth, max_seg_repeat, n_params, long_digit_run, url_len,
  (depth > 12 OR max_seg_repeat > 2 OR n_params > 8 OR long_digit_run OR url_len > 512) AS is_trap,
  NOT (depth > 12 OR max_seg_repeat > 2 OR n_params > 8 OR long_digit_run OR url_len > 512) AS keep
FROM sig
"""


def anchors_html_sql(d) -> str:
    """(doc_id, base_url, html_str) for the anchor-text oracle: a nav
    chrome anchor (dropped subtree), a fragment href (skipped), a
    root-relative target with per-doc anchor text (dst collides across
    docs sharing (doc_id%7, doc_id%5) — the aggregation fan-in), a
    mailto (skipped), and an absolute hub target with an image anchor
    (empty text — exercises the empty-anchor drop in the profile)."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  'https://s' || CAST(doc_id % 7 AS STRING) || '.example.com/dir/page' || {did} AS base_url,
  '<html><body><nav><a href="/chrome">chrome</a></nav><p>'
  || '<a href="#top">skip</a>'
  || '<a href="/t/' || CAST(doc_id % 5 AS STRING) || '">Link ' || CAST(doc_id % 3 AS STRING) || '</a>'
  || '<a href="mailto:a@b.example">m</a>'
  || '<a href="https://hub.example.org/h"><img src="i.png"/></a>'
  || '</p></body></html>' AS html_str
FROM documents
"""


def _duck_anchor_pairs_cte() -> str:
    """Expected (src_url, src_host, pos, dst_url, anchor) rows for
    anchors_html_sql's template, in document order."""
    did = "CAST(doc_id AS STRING)"
    return f"""
b AS (
  SELECT doc_id,
    's' || CAST(doc_id % 7 AS STRING) || '.example.com' AS src_host,
    'https://s' || CAST(doc_id % 7 AS STRING) || '.example.com' AS origin,
    'https://s' || CAST(doc_id % 7 AS STRING) || '.example.com/dir/page' || {did} AS src_url
  FROM documents
),
pairs AS (
  SELECT doc_id, src_url, src_host, 0 AS pos,
         origin || '/t/' || CAST(doc_id % 5 AS STRING) AS dst_url,
         'Link ' || CAST(doc_id % 3 AS STRING) AS anchor
  FROM b
  UNION ALL
  SELECT doc_id, src_url, src_host, 1 AS pos,
         'https://hub.example.org/h' AS dst_url, '' AS anchor
  FROM b
)"""


def duck_anchor_pairs_sql() -> str:
    """DuckDB twin of page_anchors (operators/anchors.py) over the
    anchors_html_sql template: the chrome/fragment/mailto anchors
    contribute nothing; the relative target resolves against the
    origin; the hub anchor has empty text."""
    return f"""
WITH {_duck_anchor_pairs_cte()}
SELECT doc_id, CAST(pos AS INT) AS pos, dst_url, anchor FROM pairs
"""


def duck_anchor_profile_sql(max_anchors: int = 16) -> str:
    """DuckDB twin of anchor_text_profile over the same pairs:
    per dst_url — inlink count, distinct source hosts, sorted distinct
    non-empty anchor texts capped and '|'-joined."""
    return f"""
WITH {_duck_anchor_pairs_cte()}
SELECT dst_url,
  CAST(COUNT(*) AS BIGINT) AS n_inlinks,
  CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
  COALESCE(array_to_string(
    list_sort(list_distinct(list(anchor) FILTER (WHERE anchor <> '')))[1:{max_anchors}],
    '|'), '') AS anchors
FROM pairs GROUP BY dst_url
"""


# Deterministic two-snapshot corpus for the crawl-delta oracles:
# id%5==0 rows exist only in the current snapshot (added), id%7==0 only
# in the previous one (removed), id%3==0 changed content, rest unchanged.
DELTA_SNAPSHOTS_CTE = """
delta_urls AS (
  SELECT o_orderkey AS id,
    'https://d' || CAST(o_orderkey % 25 AS STRING) || '.example/page' || CAST(o_orderkey AS STRING) AS url
  FROM orders
),
prev_snap AS (
  SELECT url, md5('p' || CAST(id AS STRING)) AS content_hash
  FROM delta_urls WHERE id % 5 <> 0
),
cur_snap AS (
  SELECT url,
    CASE WHEN id % 3 = 0 THEN md5('q' || CAST(id AS STRING))
         ELSE md5('p' || CAST(id AS STRING)) END AS content_hash
  FROM delta_urls WHERE id % 7 <> 0
)
"""


def duck_crawl_delta_sql() -> str:
    """DuckDB twin of crawl_delta (operators/delta.py): the full-outer
    snapshot join with the added/removed/modified/unchanged verdict."""
    return f"""
WITH {DELTA_SNAPSHOTS_CTE.strip()}
SELECT COALESCE(p.url, c.url) AS url,
  CASE WHEN p.url IS NULL THEN 'added'
       WHEN c.url IS NULL THEN 'removed'
       WHEN p.content_hash = c.content_hash THEN 'unchanged'
       ELSE 'modified' END AS change,
  p.content_hash AS prev_hash, c.content_hash AS cur_hash
FROM prev_snap p FULL OUTER JOIN cur_snap c ON p.url = c.url
"""


def duck_crawl_delta_stats_sql() -> str:
    """DuckDB twin of delta_stats(crawl_delta(...)): per-host churn
    rollup over the same two snapshots (host = lowercased hostname)."""
    d = DUCK
    return f"""
WITH {DELTA_SNAPSHOTS_CTE.strip()},
delta AS (
  SELECT COALESCE(p.url, c.url) AS url,
    CASE WHEN p.url IS NULL THEN 'added'
         WHEN c.url IS NULL THEN 'removed'
         WHEN p.content_hash = c.content_hash THEN 'unchanged'
         ELSE 'modified' END AS change
  FROM prev_snap p FULL OUTER JOIN cur_snap c ON p.url = c.url
),
agg AS (
  SELECT {_host(d)} AS host,
    CAST(SUM(CASE WHEN change = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
    CAST(SUM(CASE WHEN change = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
    CAST(SUM(CASE WHEN change = 'modified' THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
    CAST(SUM(CASE WHEN change = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM delta GROUP BY 1
)
SELECT *, ROUND(CAST(n_added + n_removed + n_modified AS DOUBLE)
                / (n_added + n_removed + n_modified + n_unchanged), 6) AS churn
FROM agg
"""


def duck_recrawl_ttl_sql(min_hours: float = 24.0, max_hours: float = 720.0) -> str:
    """DuckDB twin of recrawl_ttl_hours(delta_stats(crawl_delta(...))):
    the churn rollup wrapped in the linear TTL interpolation (NULL
    churn -> max_hours)."""
    stats = duck_crawl_delta_stats_sql().strip()
    return f"""
WITH stats AS ({stats})
SELECT host,
  COALESCE(ROUND({max_hours} - ({max_hours} - {min_hours}) * churn, 6), {max_hours}) AS ttl_hours
FROM stats
"""


def lines_docs_sql() -> str:
    """(doc_id, text) multi-line corpus for the line-dedup oracle —
    identical text in both dialects. Per doc: a corpus-wide boilerplate
    line (count N), a unique body line, a 1-in-3 category footer
    (count ~N/3), a blank line, and either a 1-in-4 shared tail
    (count ~N/4) or a unique tail. With threshold 0.26*N the corpus
    boilerplate and footers are removed while the shared-pair tail
    (0.25*N) survives — the CCNet discrimination this oracle pins."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  'Subscribe to our newsletter today!' || chr(10)
  || 'Body line one of document ' || {did} || ' stands alone here.' || chr(10)
  || 'Category ' || CAST(doc_id % 3 AS STRING) || ' footer boilerplate text.' || chr(10)
  || '' || chr(10)
  || CASE WHEN doc_id % 4 = 0 THEN 'Shared pair line for quarter docs.'
          ELSE 'Tail line unique to doc ' || {did} || '.' END AS text
FROM documents
"""


LINE_DEDUP_FRACTION = 0.26  # heavy if count > fraction * n_docs


def duck_line_dedup_sql() -> str:
    """DuckDB twin of line_dedup (operators/linedup.py) over the
    lines_docs corpus: explode lines with positions, 60-bit portable
    hash of the normalized line, corpus counts over non-blank lines,
    anti-join the heavy set, reassemble in document order."""
    d = DUCK
    norm = _norm_text(d, "line")
    return f"""
WITH docs AS ({lines_docs_sql().strip()}),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS line_no,
         unnest(string_split(text, chr(10))) AS line
  FROM docs
),
keyed AS (SELECT *, {d['HASH60'](norm)} AS line_key FROM lines),
heavy AS (
  SELECT line_key FROM keyed WHERE trim(line) <> ''
  GROUP BY line_key
  HAVING COUNT(*) > (SELECT ceil({LINE_DEDUP_FRACTION} * COUNT(*)) FROM documents)
),
kept AS (SELECT k.* FROM keyed k ANTI JOIN heavy h USING (line_key)),
totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list(line ORDER BY line_no), chr(10)) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(r.text, '') AS text, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def para_docs_sql() -> str:
    """(doc_id, text) multi-paragraph corpus for the paragraph-dedup
    oracle: a unique opener, boilerplate injected on doc_id%3==0 (all
    copies after the first must vanish), a body paragraph shared every
    40 ids, a whitespace-only pseudo-paragraph on %5==0 (must not key
    or count), and a unique closer."""
    p = "chr(10) || chr(10)"
    return f"""
SELECT doc_id,
  'Opening paragraph for document ' || CAST(doc_id AS STRING) || '.' || {p}
  || CASE WHEN doc_id % 3 = 0
          THEN 'Subscribe to our newsletter for updates.' || {p} ELSE '' END
  || 'Body content ' || CAST(doc_id % 40 AS STRING) || ' shared across some docs.' || {p}
  || CASE WHEN doc_id % 5 = 0 THEN '   ' || {p} ELSE '' END
  || 'Closing note ' || CAST(doc_id AS STRING) AS text
FROM documents WHERE doc_id < 200
"""


def duck_paragraph_dedup_sql() -> str:
    """DuckDB twin of paragraph_dedup (operators/linedup.py): blank-run
    split with positions, 60-bit portable hash of the normalized
    paragraph, packed-id first-occurrence winner, reassembly with blank
    lines in document order."""
    d = DUCK
    norm = _norm_text(d, "para")
    split = "string_split_regex(text, '\\n[ \\t]*\\n+')"
    return f"""
WITH docs AS ({para_docs_sql().strip()}),
paras0 AS (
  SELECT doc_id,
         generate_subscripts({split}, 1) - 1 AS para_no,
         unnest({split}) AS para
  FROM docs
),
paras AS (
  SELECT *, {d['HASH60'](norm)} AS para_key,
         doc_id * 1048576 + para_no AS pos
  FROM paras0 WHERE NOT regexp_matches(para, '^\\s*$')
),
winners AS (SELECT para_key, MIN(pos) AS win FROM paras GROUP BY para_key),
kept AS (
  SELECT p.* FROM paras p JOIN winners w USING (para_key) WHERE p.pos = w.win
),
totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras FROM paras GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list(para ORDER BY para_no), chr(10) || chr(10)) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(r.text, '') AS text,
       CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
FROM (SELECT DISTINCT doc_id FROM docs) d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


def unicode_docs_sql() -> str:
    """(doc_id, text) corpus for the NFC-normalization oracle —
    identical UTF-8 literals in both dialects: decomposed accents
    (e + U+0301), decomposed ring (A + U+030A), Hangul jamo that
    compose to a syllable, multi-mark sequences (only the first mark
    composes), an already-composed string, and pure ASCII."""
    return f"""
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'resumé with é decomposed accents'
    WHEN 1 THEN 'Å ngström units here'
    WHEN 2 THEN '가 hangul jamo pair'
    WHEN 3 THEN 'ȫ stacked marks survive'
    WHEN 4 THEN 'café already composed text'
    ELSE 'plain ascii stays put.'
  END AS text
FROM documents
"""


def duck_nfc_normalize_sql() -> str:
    """DuckDB twin of normalize_unicode(form='NFC') — an INDEPENDENT
    implementation (utf8proc) vs the operator's CPython unicodedata:
    agreement over the composition corpus is the verification."""
    return f"""
WITH docs AS ({unicode_docs_sql().strip()})
SELECT doc_id, nfc_normalize(text) AS text_nfc,
       length(text) AS n_chars_raw, length(nfc_normalize(text)) AS n_chars_nfc
FROM docs
"""


def sniff_docs_sql() -> str:
    """(doc_id, payload BLOB) corpus for the content-sniff oracle —
    identical unhex() text in both dialects, one stratum per label:
    png/pdf/zip/gif/riff/jpeg/gzip magic numbers, an ISO-BMFF payload
    ('ftyp' at byte 5), a '<'-opening markup payload, an unknown-magic
    payload, and an empty payload."""
    return """
SELECT doc_id,
  unhex(CASE doc_id % 11
    WHEN 0 THEN '89504E470D0A1A0A0011'
    WHEN 1 THEN '255044462D312E340011'
    WHEN 2 THEN '504B03040A0000000011'
    WHEN 3 THEN '47494638396111110011'
    WHEN 4 THEN '52494646AAAA00000011'
    WHEN 5 THEN 'FFD8FFE000104A460011'
    WHEN 6 THEN '1F8B0800000000000011'
    WHEN 7 THEN '3C68746D6C3E68690011'
    WHEN 8 THEN 'DEADBEEF001122330011'
    WHEN 9 THEN '000000186674797069736F6D'
    ELSE ''
  END) AS payload
FROM documents
"""


def duck_content_sniff_sql() -> str:
    """DuckDB twin of sniff_content_type (functions/sniff.py): the same
    longest-prefix-first magic chain over substr(hex(payload), ...) —
    hex-then-slice because DuckDB cannot slice BLOBs directly."""
    from pathik_spark.functions.sniff import MAGIC_PREFIXES

    whens = "\n    ".join(
        f"WHEN substr(hx, 1, {len(p)}) = '{p}' THEN '{label}'"
        for p, label in MAGIC_PREFIXES
    )
    return f"""
WITH docs AS ({sniff_docs_sql().strip()}),
h AS (SELECT doc_id, payload, hex(payload) AS hx FROM docs)
SELECT doc_id,
  CASE
    WHEN payload IS NULL THEN NULL
    WHEN octet_length(payload) = 0 THEN 'empty'
    {whens}
    WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
    ELSE 'other'
  END AS content_type
FROM h
"""


def psl_hosts_sql() -> str:
    """(doc_id, host) corpus for the registrable-domain oracle — one
    stratum per public-suffix-list branch: plain gTLD, subdomain,
    deep ccSLD chain, host == suffix, wildcard family (*.ck), the
    exception (!www.ck) and a host under it, uppercase + trailing dot,
    single label, US locality rules, and the wildcard-only *.bd."""
    return """
SELECT doc_id,
  CASE doc_id % 15
    WHEN 0 THEN 'example.com'
    WHEN 1 THEN 'www.example.com'
    WHEN 2 THEN 'a.b.shop.example.co.uk'
    WHEN 3 THEN 'example.co.uk'
    WHEN 4 THEN 'co.uk'
    WHEN 5 THEN 'foo.ck'
    WHEN 6 THEN 'bar.foo.ck'
    WHEN 7 THEN 'www.ck'
    WHEN 8 THEN 'sub.www.ck'
    WHEN 9 THEN 'EXAMPLE.Com.'
    WHEN 10 THEN 'localhost'
    WHEN 11 THEN 'cdn.media.example.com.au'
    WHEN 12 THEN 'k12.ca.us'
    WHEN 13 THEN 'district.k12.ca.us'
    ELSE 'x.y.bd'
  END AS host
FROM documents WHERE doc_id < 150
"""


def duck_registrable_domain_sql() -> str:
    """DuckDB twin of operators/psl.registrable_domain: the same
    public-suffix-list resolution (exception > longest rule > implicit
    '*' default; wildcard matches exactly one label) restated with
    string_split / list_slice / a window rank — independent relational
    algebra, shared rule snapshot (embedded from psl.PSL_SNAPSHOT so the
    twins cannot drift)."""
    from pathik_spark.operators.psl import PSL_SNAPSHOT

    rows = []
    for raw in PSL_SNAPSHOT:
        r = raw.strip().lower()
        exc = r.startswith("!")
        if exc:
            r = r[1:]
        rows.append(
            f"('{r}', {len(r.split('.'))}, {str(exc).upper()}, "
            f"{str(r.startswith('*')).upper()})"
        )
    values = ",\n    ".join(rows)
    return f"""
WITH hosts AS ({psl_hosts_sql().strip()}),
hd AS (
  SELECT DISTINCT regexp_replace(lower(host), '\\.$', '') AS host FROM hosts
  WHERE regexp_replace(lower(host), '\\.$', '') <> ''
),
lab AS (
  SELECT host, string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n
  FROM hd
),
rules(match_key, n_labels, is_exception, is_wildcard) AS (VALUES
    {values}
),
cand AS (
  SELECT host, labels, n,
         unnest(generate_series(1, least(n, 5))) AS i
  FROM lab
),
keyed AS (
  SELECT host, n, i,
         array_to_string(list_slice(labels, n - i + 1, n), '.') AS match_key
  FROM cand
  UNION ALL
  SELECT host, n, i,
         '*.' || array_to_string(list_slice(labels, n - i + 2, n), '.')
  FROM cand WHERE i >= 2
),
matched AS (
  SELECT k.host,
         CASE WHEN r.is_exception THEN k.i - 1 ELSE k.i END AS sfx_len,
         r.is_exception AS exc
  FROM keyed k JOIN rules r USING (match_key)
),
best AS (
  SELECT host, sfx_len,
         row_number() OVER (
           PARTITION BY host ORDER BY exc DESC, sfx_len DESC
         ) AS rn
  FROM matched
),
resolved AS (
  SELECT l.host, l.labels, l.n, coalesce(b.sfx_len, 1) AS sfx
  FROM lab l LEFT JOIN (SELECT host, sfx_len FROM best WHERE rn = 1) b
    USING (host)
)
SELECT host,
  array_to_string(list_slice(labels, n - sfx + 1, n), '.') AS public_suffix,
  CASE WHEN n > sfx
       THEN array_to_string(list_slice(labels, n - sfx, n), '.')
  END AS registrable_domain
FROM resolved
"""


def mojibake_docs_sql() -> str:
    """(doc_id, t) corpus for the encoding-repair oracle. The damaged
    strata are GENERATED (utf-8 bytes of the clean string re-decoded as
    sloppy cp1252 — the same damage model functions/mojibake.py
    inverts), not hand-typed, so the corpus cannot drift from the
    repair table's spec. Strata: 2-byte damage, 3-byte punctuation
    damage, mixed multi-char damage, damaged nbsp + euro, clean ascii,
    clean accented text (must be untouched), empty, NULL."""
    from pathik_spark.functions.mojibake import _sloppy_cp1252_decode

    def dmg(s: str) -> str:
        return _sloppy_cp1252_decode(s.encode("utf-8"))

    strata = [
        dmg("Café au lait"),
        dmg("don’t stop — ever…"),
        dmg("über naïve façade"),
        dmg("price 5 €"),  # damaged nbsp + euro triplet
        "plain ascii text",
        "café clean naïve",
        "",
    ]
    whens = "\n    ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(strata)
    )
    return f"""
SELECT doc_id,
  CASE doc_id % 8
    {whens}
    ELSE NULL
  END AS t
FROM documents WHERE doc_id < 80
"""


def duck_mojibake_sql() -> str:
    """DuckDB twin of functions/mojibake.py: the identical generated
    replace chain (longest damaged form first) rendered as nested SQL,
    score = char-length shrinkage, gate = score >= 1."""
    from pathik_spark.functions.mojibake import MOJIBAKE_TABLE

    chain = "t"
    for bad, good in MOJIBAKE_TABLE:
        chain = f"replace({chain}, '{bad}', '{good}')"
    return f"""
WITH docs AS ({mojibake_docs_sql().strip()}),
rep AS (SELECT doc_id, t, {chain} AS repaired FROM docs)
SELECT doc_id,
  CAST(length(t) - length(repaired) AS INT) AS mojibake_score,
  (length(t) - length(repaired)) >= 1 AS is_mojibake,
  repaired
FROM rep
"""


def redirect_pairs_sql() -> str:
    """(pair_id, base, ref) corpus for the RFC 3986 resolution oracle:
    every §5.2.2 branch plus dot-segment depths up to the expression's
    bound — absolute refs, scheme-relative, root-relative (with and
    without dot segments), query-only, fragment-only, empty/NULL,
    directory-relative with ../ nesting 1..6, ./ chains, trailing
    "/.."/"/." forms, refs carrying their own query, and bases with
    empty path / query / port / trailing-slash directory."""
    return r"""
SELECT o_orderkey AS pair_id,
  CASE o_orderkey % 5
    WHEN 0 THEN 'http://h' || CAST(o_orderkey % 7 AS STRING) || '.example/a/b/c?q=1'
    WHEN 1 THEN 'https://h' || CAST(o_orderkey % 7 AS STRING) || '.example:8443/d1/d2/d3/d4/d5/d6/d7/page'
    WHEN 2 THEN 'http://h' || CAST(o_orderkey % 7 AS STRING) || '.example'
    WHEN 3 THEN 'http://h' || CAST(o_orderkey % 7 AS STRING) || '.example/dir/'
    ELSE 'http://h' || CAST(o_orderkey % 7 AS STRING) || '.example/a/b#sec'
  END AS base,
  CASE o_orderkey % 16
    WHEN 0 THEN 'http://abs' || CAST(o_orderkey % 3 AS STRING) || '.example/x/y'
    WHEN 1 THEN '//cdn' || CAST(o_orderkey % 3 AS STRING) || '.example/lib.js'
    WHEN 2 THEN '/login'
    WHEN 3 THEN '/p/../q/./r'
    WHEN 4 THEN '?page=' || CAST(o_orderkey % 9 AS STRING)
    WHEN 5 THEN '#frag'
    WHEN 6 THEN ''
    WHEN 7 THEN NULL
    WHEN 8 THEN 'next'
    WHEN 9 THEN '../up'
    WHEN 10 THEN '../../../../../../deep'
    WHEN 11 THEN './same/./dir'
    WHEN 12 THEN 'g/..'
    WHEN 13 THEN 'g/../h/'
    WHEN 14 THEN 'item?id=' || CAST(o_orderkey % 9 AS STRING) || '#x'
    ELSE '  /sp/aced  '
  END AS ref
FROM orders WHERE o_orderkey < 1000
"""


def _duck_resolve(base: str, ref: str) -> str:
    """RFC 3986 §5.2 resolution rendered as DuckDB SQL — the oracle twin
    of functions/resolve.resolve_reference_expr, sharing only the
    POP_PATTERNS rewrite table (spec data, like MOJIBAKE_TABLE) and the
    documented crawl deviations (fragments dropped; empty ref -> base)."""
    from pathik_spark.functions.resolve import DOT_POP_ROUNDS, POP_PATTERNS

    def pop(path: str) -> str:
        out = path
        for _ in range(DOT_POP_ROUNDS):
            for pat, rep in POP_PATTERNS:
                out = f"regexp_replace({out}, {_duck_lit(pat)}, {_duck_lit(rep)}, 'g')"
        return out

    ref_nf = f"regexp_replace(trim(coalesce({ref}, '')), '#.*$', '')"
    base_nf = f"regexp_replace({base}, '#.*$', '')"
    scheme = f"lower(coalesce(regexp_extract({base_nf}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), ''))"
    netloc = f"coalesce(regexp_extract({base_nf}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '')"
    origin = f"({scheme} || '://' || {netloc})"
    bpath = f"coalesce(regexp_extract({base_nf}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')"
    bdir = f"CASE WHEN {bpath} = '' THEN '/' ELSE regexp_replace({bpath}, '[^/]*$', '') END"
    rpath = f"regexp_replace({ref_nf}, '\\?.*$', '')"
    rquery = f"coalesce(regexp_extract({ref_nf}, '(\\?.*)$', 1), '')"
    return f"""CASE
  WHEN {ref_nf} = '' THEN {base_nf}
  WHEN regexp_matches({ref_nf}, '^[a-zA-Z][a-zA-Z0-9+.-]*:') THEN {ref_nf}
  WHEN starts_with({ref_nf}, '//') THEN {scheme} || ':' || {ref_nf}
  WHEN starts_with({ref_nf}, '?') THEN {origin} || {bpath} || {ref_nf}
  WHEN starts_with({ref_nf}, '/') THEN {origin} || {pop(rpath)} || {rquery}
  ELSE {origin} || {pop(f"({bdir} || {rpath})")} || {rquery}
END"""


def duck_redirect_resolve_sql() -> str:
    return f"""
WITH pairs AS ({redirect_pairs_sql().strip()})
SELECT pair_id, base, ref, {_duck_resolve('base', 'ref')} AS resolved
FROM pairs
"""


def redirect_fetches_sql() -> str:
    """(doc_id, url, status_code, location) fetch-results corpus for the
    chain oracle. Hosts cycle mod 4 so relative Locations can land on
    in-table URLs; strata by doc_id % 8 (with % 16 splits):

    - 0, 5: 200 content (5 is the landing class for the 1-hop stratum);
    - 1: 301 -> absolute Location to class-5 content (1 hop, final);
    - 2: 302 -> root-relative '/p/{{id+4}}' (same host, lands on class
      6) -> class 6's dot-segment redirect -> dangling (2 hops);
    - 3 (%16=3): 303 -> query-only '?page=2' (dangling, 1 hop);
      3 (%16=11): 301 with NULL Location (unfollowable -> 0 hops);
    - 4 <-> 7: 308/307 absolute 2-cycle (loop, 1 hop each side);
    - 6 (%16=6): 301 -> '../q/./x{{id}}' (dot segments, dangling);
      6 (%16=14): 301 -> scheme-relative '//cdn.example/a{{id}}';
    - 320..383: every id 301 -> absolute url(id+4): a 16-hop ladder —
      ids early in the ladder exceed the 10-hop cap ('max_hops'), late
      ids walk off the table end ('final' at the dangling url(384+)).
    """
    url = "'http://s' || CAST({k} % 4 AS STRING) || '.example/p/' || CAST({k} AS STRING)"
    u = url.format(k="doc_id")
    return f"""
SELECT doc_id, {u} AS url,
  CASE
    WHEN doc_id >= 320 THEN 301
    WHEN doc_id % 8 = 1 THEN 301
    WHEN doc_id % 8 = 2 THEN 302
    WHEN doc_id % 8 = 3 THEN CASE WHEN doc_id % 16 = 3 THEN 303 ELSE 301 END
    WHEN doc_id % 8 = 4 THEN 308
    WHEN doc_id % 8 = 6 THEN 301
    WHEN doc_id % 8 = 7 THEN 307
    ELSE 200
  END AS status_code,
  CASE
    WHEN doc_id >= 320 THEN {url.format(k="(doc_id + 4)")}
    WHEN doc_id % 8 = 1 THEN {url.format(k="(doc_id + 4)")}
    WHEN doc_id % 8 = 2 THEN '/p/' || CAST(doc_id + 4 AS STRING)
    WHEN doc_id % 16 = 3 THEN '?page=2'
    WHEN doc_id % 8 = 4 THEN {url.format(k="(doc_id + 3)")}
    WHEN doc_id % 16 = 6 THEN '../q/./x' || CAST(doc_id AS STRING)
    WHEN doc_id % 16 = 14 THEN '//cdn.example/a' || CAST(doc_id AS STRING)
    WHEN doc_id % 8 = 7 THEN {url.format(k="(doc_id - 3)")}
    ELSE NULL
  END AS location
FROM documents WHERE doc_id < 384
"""


def duck_redirect_chains_sql(max_hops: int = 10) -> str:
    """Recursive-CTE twin of operators/redirects.resolve_redirects: the
    same per-hop advance/loop/park rules, terminal label decided
    statelessly from the end state (loop flag > still-a-redirect-source
    ('max_hops') > 'final')."""
    # coalesce: NULL status_code rows land in the non-redirect arm (the
    # Spark operator makes the same null-safe choice)
    followable = (
        "coalesce(status_code IN (301,302,303,307,308) "
        "AND trim(coalesce(location, '')) <> '', FALSE)"
    )
    return f"""
WITH RECURSIVE fetches AS ({redirect_fetches_sql().strip()}),
m AS (
  SELECT url AS m_url, {_duck_resolve('url', 'location')} AS m_next
  FROM fetches WHERE {followable}
),
walk(url, cur_url, n_hops, visited, looped, step) AS (
  SELECT url, url, 0, [url], FALSE, 0 FROM fetches WHERE {followable}
  UNION ALL
  SELECT w.url,
    CASE WHEN list_contains(w.visited, m.m_next) THEN w.cur_url ELSE m.m_next END,
    CASE WHEN list_contains(w.visited, m.m_next) THEN w.n_hops ELSE w.n_hops + 1 END,
    CASE WHEN list_contains(w.visited, m.m_next) THEN w.visited ELSE list_append(w.visited, m.m_next) END,
    list_contains(w.visited, m.m_next),
    w.step + 1
  FROM walk w JOIN m ON w.cur_url = m.m_url
  WHERE NOT w.looped AND w.step < {max_hops}
),
last AS (
  SELECT url, cur_url, n_hops, looped,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY step DESC) AS rn
  FROM walk
)
SELECT l.url, l.cur_url AS final_url, CAST(l.n_hops AS INT) AS n_hops,
  CASE WHEN l.looped THEN 'loop'
       WHEN EXISTS (SELECT 1 FROM m WHERE m.m_url = l.cur_url) THEN 'max_hops'
       ELSE 'final' END AS terminal
FROM last l WHERE rn = 1
UNION ALL
SELECT url, url AS final_url, 0 AS n_hops, 'final' AS terminal
FROM fetches WHERE NOT ({followable})
"""


def cache_payloads_sql() -> str:
    """(url, warc_ts, payload) HTTP-response corpus for the cache-TTL
    oracle — one stratum per RFC 9111 freshness source: max-age (with
    ETag), Last-Modified heuristic, Expires-Date, no-store (must beat
    max-age), extension-token trap + malformed Expires (data, not
    error), and a bare 200. CRLF built with chr() so the same literal
    SQL runs in both engines."""
    crlf = "chr(13) || chr(10)"
    lines = {
        0: (
            "'HTTP/1.1 200 OK' || {c} || 'ETag: \"t' || CAST(doc_id AS STRING) || '\"' || {c} "
            "|| 'Date: Fri, 01 Mar 2024 12:00:00 GMT' || {c} "
            "|| 'Cache-Control: public, max-age=' || CAST((doc_id % 9 + 1) * 3600 AS STRING)"
        ),
        1: (
            "'HTTP/1.1 200 OK' || {c} || 'Last-Modified: Tue, 20 Feb 2024 12:00:00 GMT' || {c} "
            "|| 'Date: Fri, 01 Mar 2024 12:00:00 GMT'"
        ),
        2: (
            # %12=2 carries a Date header; %12=8 omits it, exercising
            # the warc_ts fallback in the Expires-Date arithmetic
            "'HTTP/1.1 200 OK' || {c} || (CASE WHEN doc_id % 12 = 2 "
            "THEN 'Date: Fri, 01 Mar 2024 12:00:00 GMT' || {c} ELSE '' END) "
            "|| 'Expires: Sat, 02 Mar 2024 18:00:00 GMT'"
        ),
        3: "'HTTP/1.1 200 OK' || {c} || 'Cache-Control: no-store, max-age=999999'",
        4: "'HTTP/1.1 200 OK' || {c} || 'Cache-Control: no-cache-xyz' || {c} || 'Expires: not-a-date'",
        5: "'HTTP/1.1 200 OK'",
    }
    whens = "\n    ".join(
        f"WHEN {k} THEN {v.format(c=crlf)}" for k, v in lines.items()
    )
    return f"""
SELECT 'http://c' || CAST(doc_id % 7 AS STRING) || '.example/p/' || CAST(doc_id AS STRING) AS url,
  TIMESTAMP '2024-03-01 09:30:00' AS warc_ts,
  (CASE doc_id % 6
    {whens}
  END) || {crlf} || {crlf} || '<p>body ' || CAST(doc_id AS STRING) || '</p>' AS payload
FROM documents WHERE doc_id < 240
"""


def duck_http_cache_ttl_sql() -> str:
    """DuckDB twin of operators/revalidate.http_cache_meta +
    cache_ttl_hours: header-block split, token-aware directive match,
    try_strptime'd IMF-fixdate parsing, and the RFC 9111 precedence
    CASE (no-store > max-age > Expires-Date > 10%-of-Last-Modified-age
    heuristic > default 168 h), clamped to [1, 720] h."""
    crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    hdr = f"split_part(payload, {crlf2}, 1)"

    def h(name: str) -> str:
        return (
            f"nullif(trim(coalesce(regexp_extract({hdr}, "
            f"'(?im)^{name}:[ \\t]*([^\\r\\n]+)', 1), '')), '')"
        )

    date_fmt = "'%a, %d %b %Y %H:%M:%S GMT'"
    cc = f"lower(coalesce({h('Cache-Control')}, ''))"
    max_age = (
        f"CAST(nullif(coalesce(regexp_extract({cc}, "
        f"'(?:^|[ \\t,])max-age=([0-9]+)(?:$|[ \\t,;])', 1), ''), '') AS BIGINT)"
    )
    lm = f"try_strptime({h('Last-Modified')}, {date_fmt})"
    dt = f"try_strptime({h('Date')}, {date_fmt})"
    expires = f"try_strptime({h('Expires')}, {date_fmt})"
    no_store = f"regexp_matches({cc}, '(^|[ \\t,])(no-store|no-cache)($|[ \\t,;=])')"
    return f"""
WITH corpus AS ({cache_payloads_sql().strip()}),
meta AS (
  SELECT url,
    {h('ETag')} AS etag,
    {max_age} AS max_age_s,
    {no_store} AS no_store,
    epoch({lm}) AS lm_s, epoch({dt}) AS date_s, epoch({expires}) AS exp_s,
    epoch(warc_ts) AS wts_s
  FROM corpus
),
ttl AS (
  SELECT url, etag, max_age_s, no_store,
    CASE WHEN no_store THEN 'no_store'
         WHEN max_age_s IS NOT NULL THEN 'max_age'
         WHEN exp_s IS NOT NULL THEN 'expires'
         WHEN lm_s IS NOT NULL THEN 'heuristic'
         ELSE 'default' END AS ttl_source,
    CASE WHEN no_store THEN 1.0
         WHEN max_age_s IS NOT NULL THEN max_age_s / 3600.0
         WHEN exp_s IS NOT NULL THEN (exp_s - coalesce(date_s, wts_s)) / 3600.0
         WHEN lm_s IS NOT NULL THEN (coalesce(date_s, wts_s) - lm_s) / 36000.0
         ELSE 168.0 END AS raw_ttl
  FROM meta
)
SELECT url,
  coalesce(etag, '') AS etag,
  CAST(coalesce(max_age_s, -1) AS BIGINT) AS max_age_s,
  no_store,
  round(least(greatest(raw_ttl, 1.0), 720.0), 6) AS ttl_hours,
  ttl_source
FROM ttl
"""


def duck_stream_revalidate_sql() -> str:
    """DuckDB twin of the streaming cache-revalidation admission
    (streaming/crawl_stream.make_adaptive_batch_processor's
    cache_meta_dir + revalidate_304 arms, stated batch-relationally):
    over the shared wire corpus (cache_payloads_sql with every 5th
    response rewritten to 304), a URL is ADMITTED unless its seen
    record (every even id, aged id%6 hours) is still younger than its
    server-DECLARED TTL (the RFC 9111 precedence CASE — identical to
    duck_http_cache_ttl_sql); admitted 304s are marked 'revalidated'
    (apply_not_modified's law), the rest 'fetched'. The host-level
    churn TTL is a never-expire sentinel on both sides, so the result
    is decided entirely by the per-URL declared overlay — the thing
    this entry exists to pin."""
    crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    hdr = f"split_part(payload, {crlf2}, 1)"

    def h(name: str) -> str:
        return (
            f"nullif(trim(coalesce(regexp_extract({hdr}, "
            f"'(?im)^{name}:[ \\t]*([^\\r\\n]+)', 1), '')), '')"
        )

    date_fmt = "'%a, %d %b %Y %H:%M:%S GMT'"
    cc = f"lower(coalesce({h('Cache-Control')}, ''))"
    max_age = (
        f"CAST(nullif(coalesce(regexp_extract({cc}, "
        f"'(?:^|[ \\t,])max-age=([0-9]+)(?:$|[ \\t,;])', 1), ''), '') AS BIGINT)"
    )
    lm = f"try_strptime({h('Last-Modified')}, {date_fmt})"
    dt = f"try_strptime({h('Date')}, {date_fmt})"
    expires = f"try_strptime({h('Expires')}, {date_fmt})"
    no_store = f"regexp_matches({cc}, '(^|[ \\t,])(no-store|no-cache)($|[ \\t,;=])')"
    status = (
        f"CAST(nullif(coalesce(regexp_extract({hdr}, "
        f"'^HTTP/[0-9.]+ ([0-9]{{3}})([ \\r\\n]|$)', 1), ''), '') AS INT)"
    )
    return f"""
WITH corpus0 AS ({cache_payloads_sql().strip()}),
corpus AS (
  SELECT url, warc_ts,
    CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) AS did,
    CASE WHEN CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 5 = 0
         THEN replace(payload, 'HTTP/1.1 200 OK', 'HTTP/1.1 304 Not Modified')
         ELSE payload END AS payload
  FROM corpus0
),
meta AS (
  SELECT url, did, {status} AS status_code,
    {max_age} AS max_age_s, {no_store} AS no_store,
    epoch({lm}) AS lm_s, epoch({dt}) AS date_s, epoch({expires}) AS exp_s,
    epoch(warc_ts) AS wts_s
  FROM corpus
),
ttl AS (
  SELECT url, did, status_code,
    round(least(greatest(
      CASE WHEN no_store THEN 1.0
           WHEN max_age_s IS NOT NULL THEN max_age_s / 3600.0
           WHEN exp_s IS NOT NULL THEN (exp_s - coalesce(date_s, wts_s)) / 3600.0
           WHEN lm_s IS NOT NULL THEN (coalesce(date_s, wts_s) - lm_s) / 36000.0
           ELSE 168.0 END, 1.0), 720.0), 6) AS ttl_hours
  FROM meta
)
SELECT url,
  CASE WHEN status_code = 304 THEN 'revalidated' ELSE 'fetched' END AS status
FROM ttl
WHERE NOT (did % 2 = 0 AND (did % 6) * 3600.0 <= ttl_hours * 3600.0)
"""


def robots_fetch_status_sql() -> str:
    """(host, status_code) robots.txt fetch results for the
    access-policy oracle: 2xx/3xx/4xx/5xx/NULL strata plus duplicated
    hosts with conflicting statuses (severest must win)."""
    return """
SELECT 'h' || CAST(o_orderkey % 40 AS STRING) || '.example' AS host,
  CASE o_orderkey % 8
    WHEN 0 THEN 200
    WHEN 1 THEN 301
    WHEN 2 THEN 404
    WHEN 3 THEN 403
    WHEN 4 THEN 503
    WHEN 5 THEN 500
    WHEN 6 THEN NULL
    ELSE 200
  END AS status_code
FROM orders WHERE o_orderkey < 400
"""


def duck_robots_access_policy_sql() -> str:
    """DuckDB twin of operators/robots.robots_access_policy: the same
    severity ranking (5xx/NULL=2 > 2xx/3xx=1 > 4xx=0) aggregated
    severest-wins per host."""
    return f"""
WITH fetches AS ({robots_fetch_status_sql().strip()}),
ranked AS (
  SELECT host,
    CASE WHEN status_code IS NULL OR status_code >= 500 THEN 2
         WHEN status_code >= 400 AND status_code < 500 THEN 0
         ELSE 1 END AS v
  FROM fetches
)
SELECT host,
  CASE max(v) WHEN 2 THEN 'disallow_all' WHEN 0 THEN 'allow_all'
       ELSE 'parse' END AS policy
FROM ranked GROUP BY host
"""


def sitemap_xml_corpus_sql() -> str:
    """(host, sitemap_xml) corpus for the loc-classification oracle:
    sitemapindex documents, urlset documents, a mixed document where
    one loc appears as both kinds, and an invalid-url stratum."""
    crlf_free = {
        0: (
            "'<sitemapindex><sitemap><loc>https://s' || CAST(doc_id % 9 AS STRING) "
            "|| '.example/sm-' || CAST(doc_id AS STRING) || '.xml</loc></sitemap>"
            "<sitemap><loc> https://s' || CAST(doc_id % 9 AS STRING) "
            "|| '.example/sm-extra.xml </loc></sitemap></sitemapindex>'"
        ),
        1: (
            "'<urlset><url><loc>https://s' || CAST(doc_id % 9 AS STRING) "
            "|| '.example/p-' || CAST(doc_id AS STRING) || '</loc></url>"
            "<url><loc>ftp://bad.example/x</loc></url></urlset>'"
        ),
        2: (
            "'<urlset><url><loc>https://s' || CAST(doc_id % 9 AS STRING) "
            "|| '.example/dual.xml</loc></url>"
            "<sitemap><loc>https://s' || CAST(doc_id % 9 AS STRING) "
            "|| '.example/dual.xml</loc></sitemap></urlset>'"
        ),
    }
    whens = "\n    ".join(f"WHEN {k} THEN {v}" for k, v in crlf_free.items())
    return f"""
SELECT 'h' || CAST(doc_id % 9 AS STRING) AS host,
  CASE doc_id % 3
    {whens}
  END AS sitemap_xml
FROM documents WHERE doc_id < 90
"""


def duck_classify_sitemap_locs_sql() -> str:
    """DuckDB twin of operators/discover.classify_sitemap_locs: the
    same block-scoped regexp extraction for <url> vs <sitemap> blocks,
    trim, validity filter, sitemap-outranks-page dedup."""
    valid = (
        "regexp_matches(url, '^(?i)https?://') "
        "AND NOT regexp_matches(lower(regexp_replace(regexp_replace("
        "coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ''), "
        "'^[^@]*@', ''), ':[0-9]*$', '')), '^$|^localhost$')"
    )

    def arm(tag: str, kind: str) -> str:
        return f"""
  SELECT host,
    trim(coalesce(regexp_extract(block, '<loc>\\s*([^<]+?)\\s*</loc>', 1), '')) AS url,
    '{kind}' AS kind
  FROM (
    SELECT host, unnest(regexp_extract_all(sitemap_xml, '<{tag}>(.*?)</{tag}>', 1)) AS block
    FROM corpus
  )"""

    return f"""
WITH corpus AS ({sitemap_xml_corpus_sql().strip()}),
both_kinds AS ({arm('url', 'page')} UNION ALL {arm('sitemap', 'sitemap')})
SELECT host, url, max(kind) AS kind
FROM both_kinds
WHERE {valid}
GROUP BY host, url
"""


def retry_after_corpus_sql() -> str:
    """(url, warc_ts, payload) response corpus for the Retry-After
    oracle: delta-seconds form, HTTP-date form (vs the response Date),
    past-date clamp, cap overflow, and a 200 that must be ignored."""
    crlf = "chr(13) || chr(10)"
    lines = {
        0: "'HTTP/1.1 429 Too Many Requests' || {c} || 'Retry-After: ' || CAST((doc_id % 7 + 1) * 10 AS STRING)",
        1: (
            "'HTTP/1.1 503 Service Unavailable' || {c} || "
            "'Date: Fri, 01 Mar 2024 12:00:00 GMT' || {c} || "
            "'Retry-After: Fri, 01 Mar 2024 12:02:00 GMT'"
        ),
        2: (
            "'HTTP/1.1 429 Too Many Requests' || {c} || "
            "'Date: Fri, 01 Mar 2024 12:00:00 GMT' || {c} || "
            "'Retry-After: Fri, 01 Mar 2024 11:00:00 GMT'"
        ),
        3: "'HTTP/1.1 429 Too Many Requests' || {c} || 'Retry-After: 99999999'",
        4: "'HTTP/1.1 200 OK' || {c} || 'Retry-After: 999'",
        5: "'HTTP/1.1 200 OK'",
    }
    whens = "\n    ".join(
        f"WHEN {k} THEN {v.format(c=crlf)}" for k, v in lines.items()
    )
    return f"""
SELECT 'http://ra' || CAST(doc_id % 6 AS STRING) || '.example/p/' || CAST(doc_id AS STRING) AS url,
  TIMESTAMP '2024-03-01 09:30:00' AS warc_ts,
  (CASE doc_id % 6
    {whens}
  END) || {crlf} || {crlf} || 'body' AS payload
FROM documents WHERE doc_id < 132
"""


def duck_retry_after_sql() -> str:
    """DuckDB twin of operators/revalidate.retry_after_delays: same
    header parse, both Retry-After forms, past-date clamp, cap, MAX per
    host over 429/503 rows only."""
    crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    hdr = f"split_part(payload, {crlf2}, 1)"

    def h(name: str) -> str:
        return (
            f"nullif(trim(coalesce(regexp_extract({hdr}, "
            f"'(?im)^{name}:[ \\t]*([^\\r\\n]+)', 1), '')), '')"
        )

    date_fmt = "'%a, %d %b %Y %H:%M:%S GMT'"
    ra = h("Retry-After")
    status = f"CAST(nullif(coalesce(regexp_extract({hdr}, '^HTTP/[0-9.]+ ([0-9]{{3}})([ \r\n]|$)', 1), ''), '') AS INT)"
    delta = f"CASE WHEN regexp_matches({ra}, '^[0-9]+$') THEN CAST({ra} AS BIGINT) END"
    now = f"coalesce(epoch(try_strptime({h('Date')}, {date_fmt})), epoch(warc_ts))"
    from_date = f"greatest(epoch(try_strptime({ra}, {date_fmt})) - {now}, 0)"
    return f"""
WITH corpus AS ({retry_after_corpus_sql().strip()}),
parsed AS (
  SELECT regexp_replace(lower(regexp_replace(regexp_replace(
           coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), ''),
           '^[^@]*@', ''), ':[0-9]*$', '')), '\\.$', '') AS host,
         {status} AS status_code,
         least(coalesce({delta}, {from_date}) * 1000, 3600000) AS delay_ms
  FROM corpus
)
SELECT host, CAST(max(delay_ms) AS BIGINT) AS crawl_delay_ms
FROM parsed
WHERE status_code IN (429, 503) AND delay_ms IS NOT NULL
GROUP BY host
"""


def ngram_docs_sql() -> str:
    """(doc_id, text) corpus for the ngram-repetition oracle — one
    stratum per behavior: a 6-word phrase repeated 10x (duplicate
    5/6-gram char mass), a bigram repeated with unique spacers (top
    2-gram mass only — every longer gram distinct), a 47-word varied
    sentence (passes all thresholds), and a 3-token doc (token floor)."""
    clean = (
        "'many rivers wind through quiet valleys where tall pines shade "
        "mossy stones and small birds sing over clear water while distant "
        "hills fold into purple dusk as travelers rest beside warm fires "
        "telling long stories about strange lands they crossed during "
        "bright mornings and cold evenings together'"
    )
    spaced_bigram = (
        "'alpha beta cold alpha beta warm alpha beta mild alpha beta gray "
        "alpha beta blue alpha beta dark alpha beta pale alpha beta slim "
        "alpha beta tall alpha beta wide'"
    )
    return f"""
SELECT doc_id,
  CASE doc_id % 4
    WHEN 0 THEN repeat('the sly fox guards seven gates ', 10)
    WHEN 1 THEN {spaced_bigram}
    WHEN 2 THEN {clean}
    ELSE 'tiny doc here.'
  END AS text
FROM documents
"""


def duck_ngram_repetition_sql() -> str:
    """DuckDB twin of ngram_repetition_signals (operators/quality.py):
    n-grams via windowed lead() over exploded tokens, per-(doc, n) MAX
    of count*char-length (top gram mass) and SUM of (count-1)*length
    (duplicate instance mass), fractions over normalized char length."""
    # thresholds come FROM the operator module: tuning quality.py must
    # retune this twin in lockstep or the gate would flag a spurious
    # engine-vs-oracle mismatch
    from pathik_spark.operators.quality import (
        DUP_NGRAM_CHAR_MAX,
        MIN_TOKENS,
        TOP_NGRAM_CHAR_MAX,
    )

    d = DUCK
    norm = _norm_text(d, "text")
    ns = sorted(list(TOP_NGRAM_CHAR_MAX) + list(DUP_NGRAM_CHAR_MAX))
    leads = ", ".join(f"lead(tok, {k}) OVER w AS t{k}" for k in range(1, max(ns)))
    gram_selects = []
    for n in ns:
        parts = " || ' ' || ".join(["tok"] + [f"t{k}" for k in range(1, n)])
        gram_selects.append(
            f"SELECT doc_id, {n} AS n, {parts} AS gram FROM led WHERE t{n-1} IS NOT NULL"
        )
    grams_union = "\n  UNION ALL ".join(gram_selects)
    top_cols = ",\n  ".join(
        f"round(coalesce(MAX(CASE WHEN a.n = {n} THEN a.best END), 0)"
        f" / greatest(t.nchars, 1), 6) AS top_{n}gram_char_frac"
        for n in TOP_NGRAM_CHAR_MAX
    )
    dup_cols = ",\n  ".join(
        f"round(least(coalesce(MAX(CASE WHEN a.n = {n} THEN a.dup END), 0)"
        f" / greatest(t.nchars, 1), 1.0), 6) AS dup_{n}gram_char_frac"
        for n in DUP_NGRAM_CHAR_MAX
    )
    keep_terms = [f"n_tokens >= {MIN_TOKENS}"]
    for n, thr in TOP_NGRAM_CHAR_MAX.items():
        keep_terms.append(f"top_{n}gram_char_frac <= {thr}")
    for n, thr in DUP_NGRAM_CHAR_MAX.items():
        keep_terms.append(f"dup_{n}gram_char_frac <= {thr}")
    keep = " AND ".join(keep_terms)
    return f"""
WITH docs AS ({ngram_docs_sql().strip()}),
base AS (SELECT doc_id, {norm} AS norm FROM docs),
toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(norm, ' '), 1) - 1 AS pos,
         unnest(string_split(norm, ' ')) AS tok
  FROM base WHERE norm <> ''
),
led AS (
  SELECT doc_id, pos, tok, {leads}
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (
  {grams_union}
),
cnts AS (
  SELECT doc_id, n, gram, COUNT(*) AS c, length(gram) AS glen
  FROM grams GROUP BY doc_id, n, gram
),
agg AS (
  SELECT doc_id, n, MAX(c * glen) AS best, SUM((c - 1) * glen) AS dup
  FROM cnts GROUP BY doc_id, n
),
tot AS (
  SELECT doc_id, length(norm) AS nchars,
         CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tokens
  FROM base
),
sig AS (
  SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
  {top_cols},
  {dup_cols}
  FROM tot t LEFT JOIN agg a USING (doc_id)
  GROUP BY t.doc_id, t.n_tokens, t.nchars
)
SELECT *, ({keep}) AS keep FROM sig
"""


def gopher_docs_sql() -> str:
    """(doc_id, text) corpus for the gopher_rules oracle — identical
    text in both dialects, one stratum per rule: too-short (word
    floor), all-bullet lines, all-ellipsis-terminated lines (U+2026 so
    the symbol counter stays quiet and the line rule is isolated),
    hash-mark spam (symbol ratio), numeric flood (alphabetic-word
    fraction), and a clean 80-word document that passes every gate."""
    base = (
        "'the quick brown fox jumps over and over the lazy dog "
        "with calm grace today again. '"
    )
    return f"""
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'Too short document.'
    WHEN 1 THEN repeat('- item line for the listing and here' || chr(10), 10)
    WHEN 2 THEN repeat('the story and plot continue without an end…' || chr(10), 10)
    WHEN 3 THEN repeat({base}, 5) || '#### #### #### ####'
    WHEN 4 THEN repeat('12345 ', 60) || 'the of words'
    ELSE repeat({base}, 5)
  END AS text
FROM documents
"""


def duck_gopher_rules_sql() -> str:
    """DuckDB twin of gopher_rules (operators/quality.py): the Gopher
    Table A1 hard document gates restated over lists — word bounds,
    mean-word-length band, hash+ellipsis symbol ratio, bullet/ellipsis
    line fractions over non-blank lines, alphabetic-word fraction,
    distinct-stop-word floor; keep derived from the ROUNDED signals."""
    # thresholds come FROM the operator module (same lockstep rule as
    # duck_ngram_repetition_sql / duck_content_sniff_sql)
    from pathik_spark.operators import quality as Q

    d = DUCK
    norm = _norm_text(d, "text")
    stops = "[" + ",".join(f"'{w}'" for w in Q.GOPHER_STOP_WORDS) + "]"
    return f"""
WITH docs AS ({gopher_docs_sql().strip()}),
base AS (
  SELECT doc_id, text, {norm} AS norm FROM docs
),
sig AS (
  SELECT doc_id,
    CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_words,
    CASE WHEN norm = '' THEN 0
         ELSE length(norm) - (len(string_split(norm, ' ')) - 1) END AS sum_wlen,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis,
    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
    string_split(norm, ' ') AS words
  FROM base
),
r AS (
  SELECT doc_id,
    CAST(n_words AS BIGINT) AS n_words,
    round(sum_wlen / greatest(n_words, 1), 6) AS mean_word_len,
    round((n_hash + n_ellipsis) / greatest(n_words, 1), 6) AS symbol_ratio,
    round(len(list_filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
          / greatest(len(lines), 1), 6) AS bullet_line_frac,
    round(len(list_filter(lines,
            l -> (rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')))
          / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
    round(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
          / greatest(n_words, 1), 6) AS alpha_word_frac,
    CAST(len(list_intersect(list_distinct(words), {stops})) AS BIGINT)
      AS n_stop_distinct
  FROM sig
)
SELECT *,
  (n_words >= {Q.GOPHER_MIN_WORDS} AND n_words <= {Q.GOPHER_MAX_WORDS}
   AND mean_word_len >= {Q.GOPHER_MIN_MEAN_WLEN}
   AND mean_word_len <= {Q.GOPHER_MAX_MEAN_WLEN}
   AND symbol_ratio <= {Q.GOPHER_MAX_SYMBOL_RATIO}
   AND bullet_line_frac <= {Q.GOPHER_MAX_BULLET_LINE_FRAC}
   AND ellipsis_line_frac <= {Q.GOPHER_MAX_ELLIPSIS_LINE_FRAC}
   AND alpha_word_frac >= {Q.GOPHER_MIN_ALPHA_WORD_FRAC}
   AND n_stop_distinct >= {Q.GOPHER_MIN_STOP_DISTINCT}) AS keep
FROM r
"""


HOST_LINE_MIN_DOCS = 2
HOST_LINE_MAX_DOC_PCT = 50


def host_lines_docs_sql() -> str:
    """(doc_id, grp, text) per-site corpus for the host-line-dedup
    oracle — identical text in both dialects. 7 synthetic hosts; per
    doc: a host nav line (100% of the host's docs -> template), a
    unique body line, a 1-in-3 promo (~33% -> kept at the 50%
    threshold), a blank line, and a ~60% footer (doc_id % 10 < 6 ->
    template wherever the per-group integer count clears 50%, the
    boundary the integer-exact heaviness test pins)."""
    src = "'h' || CAST(doc_id % 7 AS STRING)"
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id, {src} AS grp,
  'Navigation menu for host ' || {src} || ' pages.' || chr(10)
  || 'Body content unique to document ' || {did} || '.' || chr(10)
  || CASE WHEN doc_id % 3 = 0 THEN 'Promo banner shown on some pages.'
          ELSE 'Second body line for doc ' || {did} || '.' END || chr(10)
  || '' || chr(10)
  || CASE WHEN doc_id % 10 < 6 THEN 'Footer copyright ' || {src} || ' notice.'
          ELSE 'Tail body line for doc ' || {did} || '.' END AS text
FROM documents
"""


def duck_host_line_dedup_sql() -> str:
    """DuckDB twin of host_line_dedup (operators/linedup.py): per-site
    template detection (distinct-doc counts per (grp, line_key) against
    group totals, integer-exact percent threshold), per-group anti-join,
    reassembly in document order."""
    d = DUCK
    norm = _norm_text(d, "line")
    return f"""
WITH docs AS ({host_lines_docs_sql().strip()}),
lines AS (
  SELECT doc_id, grp,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS line_no,
         unnest(string_split(text, chr(10))) AS line
  FROM docs
),
keyed AS (SELECT *, {d['HASH60'](norm)} AS line_key FROM lines),
totals AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS group_docs FROM docs GROUP BY grp),
counts AS (
  SELECT grp, line_key, COUNT(DISTINCT doc_id) AS n_docs
  FROM keyed WHERE trim(line) <> ''
  GROUP BY grp, line_key
),
heavy AS (
  SELECT c.grp, c.line_key FROM counts c JOIN totals t USING (grp)
  WHERE c.n_docs >= {HOST_LINE_MIN_DOCS}
    AND c.n_docs * 100 > {HOST_LINE_MAX_DOC_PCT} * t.group_docs
),
kept AS (
  SELECT k.* FROM keyed k
  ANTI JOIN heavy h ON k.grp = h.grp AND k.line_key = h.line_key
),
doc_lines AS (
  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lines GROUP BY doc_id, grp
),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list(line ORDER BY line_no), chr(10)) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.grp, COALESCE(r.text, '') AS text, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept
FROM doc_lines t LEFT JOIN rebuilt r USING (doc_id)
"""


def c4_docs_sql() -> str:
    """(doc_id, text) corpus for the C4-clean oracle: a good sentence,
    a too-short line, a no-terminal-punctuation line, a javascript
    banner (1-in-4), a cookie-policy banner (1-in-5), a curly-brace
    code leak (1-in-11, doc-blocked), and a lorem-ipsum tail (1-in-7,
    doc-blocked) vs a good closing line."""
    return """
SELECT doc_id,
  'This is a good long sentence number one.' || chr(10)
  || 'Too short line.' || chr(10)
  || 'This line has no terminal punctuation at all' || chr(10)
  || CASE WHEN doc_id % 4 = 0 THEN 'Enable JavaScript to view all the comments please.'
          ELSE 'Another perfectly reasonable body sentence sits here.' END || chr(10)
  || CASE WHEN doc_id % 5 = 0 THEN 'We use cookies so read our cookie policy for details.'
          ELSE 'Third good sentence to satisfy the minimum count.' END || chr(10)
  || CASE WHEN doc_id % 11 = 0 THEN 'function leak() still ends with a period. {'
          WHEN doc_id % 7 = 0 THEN 'Filler lorem ipsum dolor sit amet text here.'
          ELSE 'Does the closing line end with a question mark?' END AS text
FROM documents
"""


def duck_c4_clean_sql() -> str:
    """DuckDB twin of c4_clean (operators/linedup.py): per-line C4
    filter (terminal punctuation, >=5 words, no javascript /
    cookie-policy marker) + doc-level lorem-ipsum / curly-brace gate
    and the min-3-surviving-lines verdict."""
    keep = (
        "right(trim(line), 1) IN ('.', '!', '?', '\"') "
        "AND len(regexp_split_to_array(trim(line), '\\s+')) >= 5 "
        "AND NOT contains(lower(line), 'javascript') "
        "AND NOT contains(lower(line), 'cookie policy')"
    )
    return f"""
WITH docs AS ({c4_docs_sql().strip()}),
lines AS (
  SELECT doc_id, text,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS line_no,
         trim(unnest(string_split(text, chr(10)))) AS line
  FROM docs
),
kept AS (SELECT * FROM lines WHERE {keep}),
agg AS (
  SELECT l.doc_id,
         COALESCE(array_to_string(
           list(k.line ORDER BY k.line_no) FILTER (WHERE k.line IS NOT NULL),
           chr(10)), '') AS text,
         CAST(COUNT(k.line_no) AS BIGINT) AS n_lines_kept,
         MAX(CASE WHEN contains(lower(l.text), 'lorem ipsum')
                    OR contains(l.text, '{{') THEN 1 ELSE 0 END) AS blocked
  FROM (SELECT DISTINCT doc_id, text FROM lines) l
  LEFT JOIN kept k USING (doc_id)
  GROUP BY l.doc_id
)
SELECT doc_id, text, n_lines_kept,
       (n_lines_kept >= 3 AND blocked = 0) AS keep
FROM agg
"""


# URL corpus + blocklist for the host-blocklist oracle. Hosts are 2-4
# labels deep; blocklist entries 2-3 labels; at most one entry matches
# any URL (keeps the matched-entry column unambiguous in both engines).
BLOCKLIST_CTE = """
bl_urls AS (
  SELECT o_orderkey AS id,
    CASE
      WHEN o_orderkey % 7 = 0 THEN 'https://cdn.ads.tracker' || CAST(o_orderkey % 3 AS STRING) || '.example.net/p' || CAST(o_orderkey AS STRING)
      WHEN o_orderkey % 5 = 0 THEN 'https://Tracker' || CAST(o_orderkey % 3 AS STRING) || '.EXAMPLE.net/q' || CAST(o_orderkey AS STRING)
      WHEN o_orderkey % 3 = 0 THEN 'https://safe.example.org/casino' || CAST(o_orderkey AS STRING)
      WHEN o_orderkey % 2 = 0 THEN 'https://host' || CAST(o_orderkey % 11 AS STRING) || '.example.com/dl/setup' || CAST(o_orderkey AS STRING) || '.exe'
      ELSE 'https://host' || CAST(o_orderkey % 11 AS STRING) || '.example.com/s' || CAST(o_orderkey AS STRING)
    END AS url
  FROM orders
),
bl_hosts AS (
  SELECT 'tracker0.example.net' AS host
  UNION ALL SELECT 'tracker1.example.net'
  UNION ALL SELECT 'host3.example.com'
  UNION ALL SELECT 'never.matched.example'
)
"""

URL_KEYWORDS = ("casino", ".exe")


def duck_url_blocklist_sql() -> str:
    """DuckDB twin of host_blocklist_filter + url_keyword_filter
    chained (operators/blocklist.py): keep URLs whose host neither
    equals nor is a subdomain of any blocklist entry, then drop URLs
    containing a keyword. Subdomain = host ends with '.' || entry
    (the corpus keeps hosts within the engine's suffix-level cap)."""
    host = _host(DUCK)
    kw = " OR ".join(f"contains(lower(url), '{k}')" for k in URL_KEYWORDS)
    return f"""
WITH {BLOCKLIST_CTE.strip()},
hosted AS (SELECT id, url, {host} AS h FROM bl_urls)
SELECT id, url FROM hosted u
WHERE NOT EXISTS (
  SELECT 1 FROM bl_hosts b WHERE u.h = b.host OR suffix(u.h, '.' || b.host)
)
AND NOT ({kw})
"""


def metadata_html_sql() -> str:
    """(doc_id, html_str) for the page-metadata oracle: a ws-mangled
    <title>, a name=description meta (1-in-11 docs have only the
    og:description fallback and no title), a chrome <h1> inside <nav>
    (excluded), a real <h1>/<h2>, and a 1-in-3 extra <h3>."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  '<html><head>'
  || CASE WHEN doc_id % 11 = 0 THEN '<meta property="og:description" content="OG fallback ' || {did} || '"/>'
          ELSE '<title>Doc  ' || {did} || '   Portal</title><meta name="description" content="Summary   of doc ' || CAST(doc_id % 7 AS STRING) || '."/>' END
  || '</head><body><nav><h1>chrome</h1></nav>'
  || '<h1> Heading   ' || CAST(doc_id % 5 AS STRING) || ' </h1><h2>Sub</h2>'
  || CASE WHEN doc_id % 3 = 0 THEN '<h3>Deep</h3>' ELSE '' END
  || '</body></html>' AS html_str
FROM documents
"""


def duck_page_metadata_sql() -> str:
    """DuckDB-stated expected output of extract_metadata over the
    metadata_html_sql template (title/description collapsed, nav h1
    excluded, og:description fallback when name=description absent)."""
    did = "CAST(doc_id AS STRING)"
    return f"""
SELECT doc_id,
  CASE WHEN doc_id % 11 = 0 THEN '' ELSE 'Doc ' || {did} || ' Portal' END AS title,
  CASE WHEN doc_id % 11 = 0 THEN 'OG fallback ' || {did}
       ELSE 'Summary of doc ' || CAST(doc_id % 7 AS STRING) || '.' END AS description,
  'Heading ' || CAST(doc_id % 5 AS STRING) AS h1,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_headings
FROM documents
"""


def duck_bpe_word_counts_sql() -> str:
    """DuckDB twin of operators/bpe.word_counts: the word-frequency
    dictionary that is the ONLY distributed stage of BPE training."""
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH toks AS (
  SELECT unnest(string_split({norm}, ' ')) AS word
  FROM documents WHERE {norm} <> ''
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM toks WHERE word <> '' GROUP BY word
"""


def duck_quality_lr_sql() -> str:
    """DuckDB twin of score_quality_lr(PRETRAINED_QUALITY_MODEL) over
    documents (operators/classifier.py): the same 6 raw features
    (regexp counts / ratios), the same left-to-right dot-product chain,
    and the exp-free LOGIT as the compared value — sigmoid is monotone,
    so keep == (logit > 0) without cross-engine exp() arithmetic."""
    from pathik_spark.functions.text_constants import LANG_MARKERS, PUNCT_CLASS
    from pathik_spark.operators.classifier import PRETRAINED_QUALITY_MODEL

    d = DUCK
    n_chars = "CAST(length(text) AS DOUBLE)"
    norm = _norm_text(d, "text")
    arrlen = d["ARRLEN"](d["SPLIT_WS"](norm))
    n_tokens = f"CAST(CASE WHEN {norm} = '' THEN 0 ELSE {arrlen} END AS DOUBLE)"
    feats = [
        f"LEAST({n_chars} / 2000.0, 1.0)",
        f"(CAST({d['RECOUNT']('text', PUNCT_CLASS)} AS DOUBLE) / ({n_chars} + 1.0))",
        f"(CAST({d['RECOUNT']('lower(text)', LANG_MARKERS['en'])} AS DOUBLE) / ({n_tokens} + 1.0))",
        f"(({n_chars} + 1.0) / ({n_tokens} + 1.0))",
        f"(CAST({d['RECOUNT']('text', '[0-9]')} AS DOUBLE) / ({n_chars} + 1.0))",
        f"(CAST({d['RECOUNT']('text', '[A-Z]')} AS DOUBLE) / ({n_chars} + 1.0))",
    ]
    z = repr(float(PRETRAINED_QUALITY_MODEL["bias"]))
    for f, w in zip(feats, PRETRAINED_QUALITY_MODEL["weights"]):
        z = f"({z} + {f} * {repr(float(w))})"
    return f"""
SELECT doc_id, ROUND({z}, 6) AS logit, {z} > 0.0 AS keep
FROM documents
"""


LM_VOCAB = 16  # small vocab so the fixture corpus actually has OOV tokens


def duck_lm_score_sql() -> str:
    """DuckDB twin of train_unigram_lm(vocab=16) + lm_score over
    documents (operators/lm.py): top-16 tokens by (count desc, tok),
    add-one smoothing, integer micro-log10 units so the per-doc mean is
    engine- and partitioning-independent."""
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok
  FROM documents WHERE {norm} <> ''
),
toks_nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
counts AS (SELECT tok, COUNT(*) AS n FROM toks_nz GROUP BY tok),
top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {LM_VOCAB}),
mass AS (SELECT CAST(SUM(n) + COUNT(*) + 1 AS BIGINT) AS m FROM top),
lm AS (
  SELECT tok, CAST(ROUND(log10((n + 1.0) / m) * 1000000) AS BIGINT) AS lp
  FROM top, mass
),
flo AS (SELECT CAST(ROUND(log10(1.0 / m) * 1000000) AS BIGINT) AS flp FROM mass),
scored AS (
  SELECT t.doc_id, l.lp, f.flp FROM toks_nz t
  LEFT JOIN lm l USING (tok) CROSS JOIN flo f
),
agg AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tok,
    ROUND(SUM(CASE WHEN lp IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS oov_rate,
    ROUND(SUM(COALESCE(lp, flp)) / (COUNT(*) * 1000000.0), 6) AS mean_logp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(a.n_tok, 0) AS n_tok,
  COALESCE(a.oov_rate, 1.0) AS oov_rate,
  COALESCE(a.mean_logp, 0.0) AS mean_logp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def duck_corpus_report_sql() -> str:
    """DuckDB twin of report.corpus_report over documents grouped by
    (lang, source): docs / whitespace tokens of the normalized text /
    chars / distinct normalized contents / duplication rate."""
    d = DUCK
    norm = _norm_text(d, "text")
    return f"""
WITH prepped AS (
  SELECT lang, source,
    CASE WHEN {norm} = '' THEN 0 ELSE {d['ARRLEN'](d['SPLIT_WS'](norm))} END AS n_tok,
    length(text) AS n_chr,
    md5({norm}) AS chash
  FROM documents
),
agg AS (
  SELECT lang, source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
    CAST(SUM(n_chr) AS BIGINT) AS n_chars,
    CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_distinct
  FROM prepped GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens, n_chars,
  ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
  n_distinct,
  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_rate
FROM agg
"""


def duck_hash_split_sql() -> str:
    """DuckDB twin of sampling.hash_split over documents keyed by
    doc_id: cut the 60-bit bucket lattice at 0.8 / 0.9 of DENOM."""
    key = "'split:' || CAST(doc_id AS STRING)"
    bucket = DUCK["HASH60"](key) + " % 1000000"
    return f"""
SELECT doc_id,
  CASE WHEN {bucket} < 800000 THEN 'train'
       WHEN {bucket} < 900000 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def duck_split_leakage_sql() -> str:
    """DuckDB twin of sampling.split_leakage_report over a url-keyed
    hash_split: hosts cycle mod 23 so most span splits; the report
    states spanning hosts with sorted split lists and row totals."""
    key = "'split:' || CAST(doc_id AS STRING)"
    bucket = DUCK["HASH60"](key) + " % 1000000"
    return f"""
WITH docs AS (
  SELECT doc_id, 'leak' || CAST(doc_id % 23 AS STRING) || '.example' AS host
  FROM documents WHERE doc_id < 400
),
labeled AS (
  SELECT host,
    CASE WHEN {bucket} < 800000 THEN 'train'
         WHEN {bucket} < 900000 THEN 'val'
         ELSE 'test' END AS split
  FROM docs
),
per AS (SELECT host, split, COUNT(*) AS n FROM labeled GROUP BY host, split)
SELECT host,
  CAST(COUNT(*) AS BIGINT) AS n_splits,
  array_to_string(list_sort(list(split)), ',') AS splits,
  CAST(SUM(n) AS BIGINT) AS n_rows
FROM per GROUP BY host HAVING COUNT(*) > 1
"""


# Article-dating corpus (shared dialect): JSON-LD / OpenGraph / <time>
# channels, precedence collisions, malformed JSON-LD (must fall through,
# not error), reversed OG attribute order, and a no-signal page.
DATED_DOCS_CTE = """
dated_docs AS (
  SELECT 'https://news' || CAST(h % 5 AS STRING) || '.example/a/' || CAST(h AS STRING) AS url,
    CASE h % 8
      WHEN 0 THEN '<head><script type="application/ld+json">{"@type": "NewsArticle", "datePublished": "2024-01-0' || CAST(h % 9 + 1 AS STRING) || 'T08:30:00Z"}</script></head><body>x</body>'
      WHEN 1 THEN '<head><meta property="article:published_time" content="2023-06-15T10:00:00Z"></head><body>x</body>'
      WHEN 2 THEN '<body><time datetime="2022-12-0' || CAST(h % 9 + 1 AS STRING) || '">then</time></body>'
      WHEN 3 THEN '<head><script type="application/ld+json">{"@type": "Article"}</script><meta property="article:published_time" content="2021-03-03"></head>'
      WHEN 4 THEN '<body>undated page ' || CAST(h AS STRING) || '</body>'
      WHEN 5 THEN '<head><script type="application/ld+json">{broken json</script></head><body><time datetime="2020-05-05T00:00:00">t</time></body>'
      WHEN 6 THEN '<head><script type="application/ld+json">{"datePublished": "2019-07-07"}</script><meta property="article:published_time" content="2018-01-01"></head>'
      ELSE '<head><META CONTENT="2017-09-3' || CAST(h % 2 AS STRING) || '" PROPERTY="article:published_time"></head>'
    END AS html
  FROM (SELECT DISTINCT o_orderkey % 64 AS h FROM orders)
)
"""


def duck_article_dates_sql() -> str:
    """DuckDB twin of operators/dating.article_dates over
    DATED_DOCS_CTE: same regexes, json_valid-guarded datePublished
    (DuckDB errors on malformed JSON where Spark returns NULL — the
    guard states the same fall-through), 10-char date prefix validated
    by try_cast to DATE, jsonld > og > time precedence."""
    ld_block = (
        "coalesce(regexp_extract(html,"
        " '(?is)<script[^>]*type=\"application/ld\\+json\"[^>]*>(.*?)</script>', 1), '')"
    )
    ld_raw = (
        f"CASE WHEN {ld_block} <> '' AND json_valid({ld_block})"
        f" THEN json_extract_string({ld_block}, '$.datePublished') END"
    )
    og1 = "regexp_extract(html, '(?i)<meta[^>]*property=\"article:published_time\"[^>]*content=\"([^\"]*)\"', 1)"
    og2 = "regexp_extract(html, '(?i)<meta[^>]*content=\"([^\"]*)\"[^>]*property=\"article:published_time\"', 1)"
    og_raw = f"nullif(coalesce(nullif(coalesce({og1}, ''), ''), coalesce({og2}, '')), '')"
    time_raw = "nullif(coalesce(regexp_extract(html, '(?i)<time[^>]*datetime=\"([^\"]*)\"', 1), ''), '')"

    def d10(raw: str) -> str:
        return (
            f"coalesce(CAST(try_cast(nullif(substr(trim({raw}), 1, 10), '')"
            f" AS DATE) AS VARCHAR), '')"
        )

    return f"""
WITH {DATED_DOCS_CTE.strip()},
chans AS (
  SELECT url, {d10(ld_raw)} AS ld, {d10(og_raw)} AS og, {d10(time_raw)} AS tm
  FROM dated_docs
)
SELECT url,
  CASE WHEN ld <> '' THEN ld WHEN og <> '' THEN og ELSE tm END AS date_published,
  CASE WHEN ld <> '' THEN 'jsonld' WHEN og <> '' THEN 'og'
       WHEN tm <> '' THEN 'time' ELSE '' END AS date_source
FROM chans
"""


SUBSTR_NGRAM = 8
SUBSTR_MIN_COUNT = 2
SUBSTR_DOCS = 300


def _substr_span_ctes(d, n_docs: int, ng: int, min_count: int) -> str:
    """Shared CTE chain restating operators/substring.duplicated_spans:
    positional n-gram portable hashes, corpus-wide counts, join-back of
    positions whose gram occurs >= min_count times, gaps-and-islands
    merge of overlapping [pos, pos+n) windows. Yields CTEs ``toks``
    (doc_id, toks, n) and ``spans`` (doc_id, span_start, span_end)."""
    norm = _norm_text(d, "text")
    return f"""
toks AS (
  SELECT doc_id, {d['SPLIT_WS'](norm)} AS toks,
         CASE WHEN {norm} = '' THEN 0 ELSE len({d['SPLIT_WS'](norm)}) END AS n
  FROM documents WHERE doc_id < {n_docs}
),
gpos AS (
  SELECT doc_id, toks, unnest(generate_series(0, n - {ng})) AS pos
  FROM toks WHERE n >= {ng}
),
ghash AS (
  SELECT doc_id, pos,
         {d['HASH60'](f"array_to_string(toks[pos + 1 : pos + {ng}], ' ')")} AS gram_hash
  FROM gpos
),
dup AS (
  SELECT gram_hash FROM ghash GROUP BY gram_hash HAVING COUNT(*) >= {min_count}
),
dpos AS (
  SELECT g.doc_id, g.pos, g.pos + {ng} AS win_end
  FROM ghash g JOIN dup USING (gram_hash)
),
flagged AS (
  SELECT doc_id, pos, win_end,
         CASE WHEN pos > COALESCE(MAX(win_end) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_span
  FROM dpos
),
islands AS (
  SELECT *, SUM(new_span) OVER (
    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(win_end) AS span_end
  FROM islands GROUP BY doc_id, span_id
)"""


def duck_dup_spans_sql(
    n_docs: int = SUBSTR_DOCS, ng: int = SUBSTR_NGRAM, min_count: int = SUBSTR_MIN_COUNT
) -> str:
    """DuckDB twin of duplicated_spans (operators/substring.py)."""
    return f"""
WITH {_substr_span_ctes(DUCK, n_docs, ng, min_count)}
SELECT doc_id, CAST(span_start AS INT) AS span_start,
       CAST(span_end AS INT) AS span_end
FROM spans
"""


def duck_substring_dedup_sql(
    n_docs: int = SUBSTR_DOCS, ng: int = SUBSTR_NGRAM, min_count: int = SUBSTR_MIN_COUNT
) -> str:
    """DuckDB twin of strip_duplicated_spans over duplicated_spans
    (operators/substring.py): every token position covered by a flagged
    span removed, kept tokens re-joined in position order; docs with
    nothing kept (and empty docs) emit clean_text = ''."""
    return f"""
WITH {_substr_span_ctes(DUCK, n_docs, ng, min_count)},
tokpos AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos0, unnest(toks) AS tok
  FROM toks
),
kept AS (
  SELECT k.doc_id, k.pos0, k.tok
  FROM tokpos k LEFT JOIN spans s
    ON s.doc_id = k.doc_id AND s.span_start <= k.pos0 AND k.pos0 < s.span_end
  WHERE s.doc_id IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos0) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS INT) AS n_removed_tokens
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


SESSION_GAP_MIN = 360


def duck_sessionize_sql(gap_minutes: int = SESSION_GAP_MIN) -> str:
    """DuckDB twin of temporal.sessionize over the events table: lag ->
    gap flag -> running sum -> within-session row_number, ties broken
    by event_id in both engines."""
    return f"""
WITH lagd AS (
  SELECT event_id, user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
              > CAST({gap_minutes} AS BIGINT) * 60 * 1000000
         THEN 1 ELSE 0 END AS newf
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
idx AS (
  SELECT *, CAST(SUM(newf) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS INT) AS session_idx
  FROM lagd
)
SELECT event_id, user_id, session_idx,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY user_id, session_idx ORDER BY ts, event_id
  ) AS INT) AS session_seq
FROM idx
"""


def duck_asof_events_sql() -> str:
    """Oracle for temporal.asof_join via DuckDB's NATIVE ASOF JOIN — an
    independently implemented algorithm, not a restatement of the
    engine's tagged-union window. Purchases pick up the user's most
    recent prior (<=) error event; epoch-microsecond ints make the
    value hash timestamp-representation-proof."""
    return """
SELECT p.event_id, p.user_id,
  CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
  COALESCE(e.event_id, -1) AS err_event_id,
  COALESCE(e.value, -1.0) AS err_value,
  CAST(COALESCE(epoch_us(e.ts), -1) AS BIGINT) AS err_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts >= e.ts
"""


def duck_perplexity_buckets_sql() -> str:
    """DuckDB twin of lm.perplexity_buckets over lm_score(documents):
    per-language rank-exact head/middle/tail cut — row_number over
    (mean_logp DESC, doc_id), bucket = floor((rn-1)*3/cnt). mean_logp
    comes from integer micro-log10 sums, so the order (and therefore
    the cut) is engine-exact."""
    return f"""
WITH lmscore AS ({duck_lm_score_sql()}),
langd AS (
  SELECT l.doc_id, d.lang, l.mean_logp
  FROM lmscore l JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, mean_logp,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY mean_logp DESC, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM langd
)
SELECT doc_id, lang, mean_logp,
  CASE CAST(FLOOR(CAST(rn - 1 AS DOUBLE) * 3 / cnt) AS INTEGER)
    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM ranked
"""


DSIR_BUCKETS = 512  # small feature space so the fixture corpus collides
DSIR_K = 150


def _dsir_cte(d) -> str:
    """Shared DSIR CTE block: hashed unigram+bigram features over
    documents (bucket = hash60(gram) % DSIR_BUCKETS), add-one-smoothed
    feature LMs for the TARGET (lang='en') and the RAW pool (all docs),
    and per-doc integer micro-log10 importance weights
    sum(cnt * (lp_target - lp_raw)) — operators/dsir.py restated
    relationally. SUMs are cast to BIGINT (DuckDB would promote to
    HUGEINT and break the schema compare)."""
    norm = _norm_text(d, "text")
    h = d["HASH60"]("gram")
    return f"""
toks_cte AS (SELECT doc_id, lang, {d['SPLIT_WS'](norm)} AS toks FROM documents WHERE {norm} <> ''),
tokens AS (
  SELECT doc_id, lang, generate_subscripts(toks,1)-1 AS pos, unnest(toks) AS tok
  FROM toks_cte
),
grams AS (
  SELECT doc_id, lang, tok AS gram FROM tokens
  UNION ALL
  SELECT a.doc_id, a.lang, a.tok || ' ' || b.tok AS gram
  FROM tokens a JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
feats AS (
  SELECT doc_id, lang, {h} % {DSIR_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM grams GROUP BY doc_id, lang, bucket
),
t_counts AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n FROM feats WHERE lang = 'en' GROUP BY bucket),
q_counts AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n FROM feats GROUP BY bucket),
t_mass AS (SELECT CAST(COALESCE(SUM(n), 0) + {DSIR_BUCKETS} AS BIGINT) AS m FROM t_counts),
q_mass AS (SELECT CAST(COALESCE(SUM(n), 0) + {DSIR_BUCKETS} AS BIGINT) AS m FROM q_counts),
t_lm AS (SELECT bucket, CAST(ROUND(log10((n + 1.0) / m) * 1000000) AS BIGINT) AS lp FROM t_counts, t_mass),
q_lm AS (SELECT bucket, CAST(ROUND(log10((n + 1.0) / m) * 1000000) AS BIGINT) AS lp FROM q_counts, q_mass),
t_floor AS (SELECT CAST(ROUND(log10(1.0 / m) * 1000000) AS BIGINT) AS flp FROM t_mass),
q_floor AS (SELECT CAST(ROUND(log10(1.0 / m) * 1000000) AS BIGINT) AS flp FROM q_mass),
w AS (
  SELECT f.doc_id,
    CAST(SUM(f.cnt) AS BIGINT) AS n_grams,
    CAST(SUM(f.cnt * (COALESCE(t.lp, tf.flp) - COALESCE(q.lp, qf.flp))) AS BIGINT) AS logw_micro
  FROM feats f
  LEFT JOIN t_lm t USING (bucket)
  LEFT JOIN q_lm q USING (bucket)
  CROSS JOIN t_floor tf CROSS JOIN q_floor qf
  GROUP BY f.doc_id
),
weights AS (
  SELECT d.doc_id,
    COALESCE(w.n_grams, 0) AS n_grams,
    COALESCE(w.logw_micro, 0) AS logw_micro,
    ROUND(COALESCE(w.logw_micro, 0) / 1000000.0, 6) AS logw
  FROM documents d LEFT JOIN w USING (doc_id)
)"""


def duck_dsir_weights_sql() -> str:
    """DuckDB twin of dsir.dsir_log_weights (target = lang='en' docs,
    raw pool = all documents)."""
    return f"""
WITH {_dsir_cte(DUCK)}
SELECT doc_id, n_grams, logw_micro, logw FROM weights
"""


def duck_dsir_select_sql() -> str:
    """DuckDB twin of dsir.dsir_select: Gumbel-top-k over the importance
    weights with the deterministic hash-lattice Gumbel (u = (hash60
    ('dsir:'||doc_id) % 1e6 + 0.5)/1e6, g = -ln(-ln(u)), integer micro
    units) — temperature 1, k = DSIR_K."""
    d = DUCK
    h = d["HASH60"]("('dsir:' || CAST(doc_id AS STRING))")
    u = f"(({h} % 1000000) + 0.5) / 1000000.0"
    return f"""
WITH {_dsir_cte(d)},
keyed AS (
  SELECT doc_id, n_grams, logw,
    logw_micro + CAST(ROUND(-ln(-ln({u})) * 1000000) AS BIGINT) AS key_micro
  FROM weights
)
SELECT doc_id, n_grams, logw, key_micro
FROM keyed ORDER BY key_micro DESC, doc_id LIMIT {DSIR_K}
"""


def duck_semdedup_sql(
    n_planes: int = 6, dim: int = 64, threshold: float = 0.25, n_vecs: int = 120
) -> str:
    """DuckDB twin of ann.semdedup_keep (SRP-bucket arm): clusters from
    the same inlined hyperplanes, within-cluster pairs at cosine >=
    threshold, keep = no smaller-id neighbor — SemDeDup's one-survivor-
    per-duplicate-chain rule, restated relationally."""
    return f"""
WITH {_lsh_bucket_ctes(n_planes, dim, f"WHERE vec_id < {n_vecs}")},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(av.v * bv.v) AS dot,
         SQRT(SUM(av.v * av.v)) AS na,
         SQRT(SUM(bv.v * bv.v)) AS nb
  FROM buckets a
  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id AND bv.pos = av.pos
  GROUP BY a.vec_id, b.vec_id
),
dropped AS (
  SELECT DISTINCT id_b AS vec_id FROM pairs
  WHERE ROUND(dot / (na * nb), 6) >= {threshold}
)
SELECT b.vec_id, CAST(b.bucket AS INTEGER) AS cluster,
  (d.vec_id IS NULL) AS keep
FROM buckets b LEFT JOIN dropped d USING (vec_id)
"""


def duck_host_quality_sql(min_docs: int = 3, min_mean: float = 0.7) -> str:
    """DuckDB twin of quality.host_quality_profile grouped by source:
    integer micro-unit quality sums make the per-group mean engine-exact."""
    q = _quality_expr(DUCK)
    return f"""
WITH qd AS (
  SELECT source, CAST(ROUND({q} * 1000000) AS BIGINT) AS qm FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(qm) AS BIGINT) AS qsum
  FROM qd GROUP BY source
)
SELECT source, n_docs,
  ROUND(qsum / (n_docs * 1000000.0), 6) AS mean_quality,
  (n_docs < {min_docs} OR ROUND(qsum / (n_docs * 1000000.0), 6) >= {min_mean}) AS keep_host
FROM agg
"""


BM25_QUERIES = [
    (1, "spark join order"),
    (2, "customer query fast"),
    (3, "hash table scan slow"),
]
BM25_K = 10
TFIDF_TERMS = 5


def duck_bm25_topk_sql(k: int = BM25_K, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of search.bm25_topk over documents with the fixed
    BM25_QUERIES: same tokenization (normalized whitespace split), same
    Robertson idf, and per-(term,doc) weights rounded to integer MICRO
    units before the per-doc sum so the score is engine-exact."""
    vals = ", ".join(f"({qid}, {_duck_lit(q)})" for qid, q in BM25_QUERIES)
    d = DUCK
    norm = _norm_text(d, "text")
    qnorm = _norm_text(d, "query")
    avgdl = "(CAST(s.tot_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))"
    denom = f"(t.tf + {repr(float(k1))} * ({repr(1.0 - b)} + {repr(float(b))} * d.dl / {avgdl}))"
    idf = "ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)"
    w = f"{idf} * (t.tf * {repr(k1 + 1.0)}) / {denom} * 1000000"
    return f"""
WITH docs_n AS (SELECT doc_id, {norm} AS norm FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
  FROM docs_n WHERE norm <> ''
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
qraw(query_id, query) AS (VALUES {vals}),
qt AS (
  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, tok
  FROM (SELECT query_id, unnest(string_split({qnorm}, ' ')) AS tok FROM qraw)
  WHERE tok <> ''
),
dfreq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
  WHERE tok IN (SELECT tok FROM qt) GROUP BY tok
),
w AS (
  SELECT q.query_id, t.doc_id, CAST(ROUND({w}) AS BIGINT) AS wm
  FROM tf t
  JOIN qt q USING (tok) JOIN dfreq f USING (tok) JOIN dl d USING (doc_id)
  CROSS JOIN stats s
),
sc AS (SELECT query_id, doc_id, CAST(SUM(wm) AS BIGINT) AS sm FROM w GROUP BY query_id, doc_id),
rk AS (
  SELECT query_id, doc_id, sm,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sm DESC, doc_id) AS rnk
  FROM sc
)
SELECT query_id, doc_id, ROUND(sm / 1000000.0, 6) AS score, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {k}
"""


def duck_tfidf_top_terms_sql(n_terms: int = TFIDF_TERMS) -> str:
    """DuckDB twin of search.tfidf_top_terms over documents: per-doc
    top-``n_terms`` terms by (tf/dl) * ln(N/df), micro-int exact."""
    d = DUCK
    norm = _norm_text(d, "text")
    t = ("(CAST(t.tf AS DOUBLE) / CAST(d.dl AS DOUBLE))"
         " * ln(CAST(s.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)) * 1000000")
    return f"""
WITH docs_n AS (SELECT doc_id, {norm} AS norm FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
  FROM docs_n WHERE norm <> ''
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
w AS (
  SELECT t.doc_id, t.tok, CAST(ROUND({t}) AS BIGINT) AS tm
  FROM tf t JOIN dl d USING (doc_id) JOIN dfreq f USING (tok) CROSS JOIN stats s
),
rk AS (
  SELECT doc_id, tok, tm,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tm DESC, tok) AS rnk
  FROM w
)
SELECT doc_id, tok, ROUND(tm / 1000000.0, 6) AS tfidf, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {n_terms}
"""


LANGID_BUCKETS = 4096


def duck_langid_nb_sql() -> str:
    """DuckDB twin of langid_ml.train_langid_nb + langid_nb_predict,
    trained and scored on documents: hashed char-trigram multinomial NB
    with integer micro-log10 probs, floor-folded inner join, argmax +
    runner-up margin. All SUMs cast to BIGINT (HUGEINT guard)."""
    d = DUCK
    norm = _norm_text(d, "text")
    h = d["HASH60"]("gram")
    B = LANGID_BUCKETS
    return f"""
WITH normd AS (SELECT doc_id, lang, {norm} AS norm FROM documents),
grams AS (
  SELECT doc_id, substr(norm, CAST(i AS INTEGER), 3) AS gram
  FROM (SELECT doc_id, norm, unnest(generate_series(1, length(norm) - 2)) AS i
        FROM normd WHERE length(norm) >= 3) t
),
feats AS (
  SELECT doc_id, {h} % {B} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM grams GROUP BY doc_id, bucket
),
labeled AS (SELECT f.doc_id, f.bucket, f.cnt, n.lang FROM feats f JOIN normd n USING (doc_id)),
counts AS (SELECT lang, bucket, CAST(SUM(cnt) AS BIGINT) AS n FROM labeled GROUP BY lang, bucket),
totals AS (SELECT lang, CAST(SUM(n) + {B} AS BIGINT) AS mass FROM counts GROUP BY lang),
model AS (
  SELECT c.lang, c.bucket,
    CAST(ROUND(log10((c.n + 1.0) / t.mass) * 1000000) AS BIGINT) AS lp
  FROM counts c JOIN totals t USING (lang)
),
ndocs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
langs AS (
  SELECT dl.lang,
    CAST(ROUND(log10(dl.nd / nd.total) * 1000000) AS BIGINT) AS prior,
    CAST(ROUND(log10(1.0 / t.mass) * 1000000) AS BIGINT) AS floor_l
  FROM (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS nd FROM documents GROUP BY lang) dl
  JOIN totals t USING (lang) CROSS JOIN ndocs nd
),
doc_totals AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams FROM feats GROUP BY doc_id),
partial AS (
  SELECT f.doc_id, m.lang, CAST(SUM(f.cnt * (m.lp - l.floor_l)) AS BIGINT) AS part
  FROM feats f JOIN model m USING (bucket) JOIN langs l ON m.lang = l.lang
  GROUP BY f.doc_id, m.lang
),
scores AS (
  SELECT dt.doc_id, l.lang,
    CAST(l.prior + dt.n_grams * l.floor_l + COALESCE(p.part, 0) AS BIGINT) AS score_micro
  FROM doc_totals dt CROSS JOIN langs l
  LEFT JOIN partial p ON p.doc_id = dt.doc_id AND p.lang = l.lang
),
ranked AS (
  SELECT doc_id, lang, score_micro,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, lang) AS rn,
    LEAD(score_micro) OVER (PARTITION BY doc_id ORDER BY score_micro DESC, lang) AS nxt
  FROM scores
)
SELECT doc_id, lang AS pred_lang, score_micro,
  CAST(COALESCE(score_micro - nxt, 0) AS BIGINT) AS margin_micro
FROM ranked WHERE rn = 1
"""


# --- RFC 9309 wildcard rule matching -----------------------------------------
# Fixture shared verbatim by both dialects (plain UNION ALL literals).
# Covers: '*' anywhere, trailing-'$' anchor, literal regex/LIKE
# metacharacters ('.', '_', '%'), allow-over-disallow specificity with
# wildcard rules, query-string matching (RFC 9309 matches path+query),
# and a host with no robots row.

WILDCARD_RULES_CTE = """wc_rules AS (
  SELECT 'h0' AS host, 'd' AS kind, '/*.php' AS rule
  UNION ALL SELECT 'h0', 'a', '/index.php$'
  UNION ALL SELECT 'h1', 'd', '/fish$'
  UNION ALL SELECT 'h2', 'd', '/a.b'
  UNION ALL SELECT 'h3', 'd', '/private'
  UNION ALL SELECT 'h3', 'a', '/private/*/pub'
  UNION ALL SELECT 'h4', 'd', '/q*sess='
  UNION ALL SELECT 'h5', 'd', '/'
  UNION ALL SELECT 'h5', 'a', '/public*'
  UNION ALL SELECT 'h7', 'd', '/x_y%z'
  UNION ALL SELECT 'h8', 'd', '/dl*load$'
)"""

WILDCARD_URLS_CTE = """wc_urls AS (
  SELECT 'h0' AS host, 'https://h0/index.php' AS url
  UNION ALL SELECT 'h0', 'https://h0/index.php?x=1'
  UNION ALL SELECT 'h0', 'https://h0/deep/page.php'
  UNION ALL SELECT 'h0', 'https://h0/plain.html'
  UNION ALL SELECT 'h1', 'https://h1/fish'
  UNION ALL SELECT 'h1', 'https://h1/fishing'
  UNION ALL SELECT 'h1', 'https://h1/fish?x=1'
  UNION ALL SELECT 'h2', 'https://h2/a.b'
  UNION ALL SELECT 'h2', 'https://h2/aXb'
  UNION ALL SELECT 'h2', 'https://h2/a.bc'
  UNION ALL SELECT 'h3', 'https://h3/private/x/pub'
  UNION ALL SELECT 'h3', 'https://h3/private/x/sec'
  UNION ALL SELECT 'h3', 'https://h3/privateer'
  UNION ALL SELECT 'h4', 'https://h4/q?a=1&sess=42'
  UNION ALL SELECT 'h4', 'https://h4/q?a=1'
  UNION ALL SELECT 'h5', 'https://h5/public/doc'
  UNION ALL SELECT 'h5', 'https://h5/secret'
  UNION ALL SELECT 'h5', 'https://h5/'
  UNION ALL SELECT 'h6', 'https://h6/anything'
  UNION ALL SELECT 'h7', 'https://h7/x_y%z/page'
  UNION ALL SELECT 'h7', 'https://h7/xAy%z'
  UNION ALL SELECT 'h7', 'https://h7/x_yQz'
  UNION ALL SELECT 'h8', 'https://h8/dl/download'
  UNION ALL SELECT 'h8', 'https://h8/dl/downloads'
  UNION ALL SELECT 'h8', 'https://h8/download'
)"""


def duck_robots_wildcards_sql() -> str:
    """DuckDB twin of filter_disallowed's RFC 9309 wildcard matching —
    via a DIFFERENT mechanism: robots rules are compiled to SQL LIKE
    patterns (escape \\ % _, '*' -> '%', trailing '$' drops the
    implicit trailing '%') instead of the engine's Java-regex
    conversion, so a conversion bug on either side breaks the match.
    Precedence is the same rule-octet longest-match, Allow winning
    ties; the match target is path+query per §2.2.2."""
    return f"""
WITH {WILDCARD_RULES_CTE},
{WILDCARD_URLS_CTE},
pats AS (
  SELECT host, kind, CAST(length(rule) AS BIGINT) AS rlen,
    replace(replace(replace(replace(
        CASE WHEN rule LIKE '%$' THEN substr(rule, 1, length(rule) - 1)
             ELSE rule END,
        '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
      || CASE WHEN rule LIKE '%$' THEN '' ELSE '%' END AS pat
  FROM wc_rules
),
pathq AS (
  SELECT host, url,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pq
  FROM wc_urls
),
verdicts AS (
  SELECT p.host, p.url,
    COALESCE(MAX(CASE WHEN r.kind = 'd' AND p.pq LIKE r.pat ESCAPE '\\'
                      THEN r.rlen END), 0) AS dlen,
    COALESCE(MAX(CASE WHEN r.kind = 'a' AND p.pq LIKE r.pat ESCAPE '\\'
                      THEN r.rlen END), 0) AS alen
  FROM pathq p LEFT JOIN pats r ON p.host = r.host
  GROUP BY p.host, p.url
)
SELECT host, url FROM verdicts WHERE dlen <= alen
"""


# hreflang corpus (shared dialect): 72 pages in 24 three-language
# groups (en/fr/de). Strata by group: full mutual trios with self +
# x-default tags; one-way declarations; a relative-href mutual pair;
# malformed declarations (bad language tags, empty/mailto hrefs,
# missing rel=alternate, an uppercase tag); hreflang-free pages; and
# duplicated tags + uppercase language values + a cross-label mutual
# pair (fr page answers the en page's "fr" with "en-gb").
HREFLANG_DOCS_CTE = """
hl_base AS (
  SELECT CAST(FLOOR(h / 3.0) AS INT) AS g, h % 3 AS r
  FROM (SELECT DISTINCT o_orderkey % 72 AS h FROM orders)
),
hl_pages AS (
  SELECT g, r,
    CASE r WHEN 0 THEN 'en' WHEN 1 THEN 'fr' ELSE 'de' END AS lng,
    'https://site' || CAST(g % 7 AS STRING) || '.example' AS site,
    '/p' || CAST(g AS STRING) AS tail
  FROM hl_base
),
hreflang_docs AS (
  SELECT site || '/' || lng || tail AS url,
    CASE g % 6
      WHEN 0 THEN '<head><link rel="alternate" hreflang="en" href="' || site || '/en' || tail
        || '"><link rel="alternate" hreflang="fr" href="' || site || '/fr' || tail
        || '"><link rel="alternate" hreflang="de" href="' || site || '/de' || tail
        || '"><link rel="alternate" hreflang="x-default" href="' || site || '/en' || tail || '"></head>'
      WHEN 1 THEN CASE WHEN r = 0
        THEN '<head><link rel="alternate" hreflang="fr" href="' || site || '/fr' || tail
          || '"><link rel="alternate" hreflang="de" href="' || site || '/de' || tail || '"></head>'
        ELSE '<body>no declarations</body>' END
      WHEN 2 THEN CASE
        WHEN r = 0 THEN '<head><link rel="alternate" hreflang="fr" href="../fr' || tail || '"></head>'
        WHEN r = 1 THEN '<head><link hreflang="en" rel="alternate" href="' || site || '/en' || tail || '"></head>'
        ELSE '<body>x</body>' END
      WHEN 3 THEN '<head><link rel="alternate" hreflang="english" href="' || site || '/bad1'
        || '"><link rel="alternate" hreflang="en_US" href="' || site || '/bad2'
        || '"><link rel="alternate" hreflang="es" href="'
        || '"><link rel="alternate" hreflang="pt" href="mailto:a@b.example'
        || '"><link hreflang="it" href="' || site || '/no-rel'
        || '"><LINK REL="ALTERNATE" HREFLANG="EN-GB" HREF="' || site || '/en-gb' || tail || '"></head>'
      WHEN 4 THEN '<head><link rel="stylesheet" href="/s.css"></head><body>plain</body>'
      ELSE '<head><link rel="alternate" hreflang="FR" href="' || site || '/fr' || tail
        || '"><link rel="alternate" hreflang="fr" href="' || site || '/fr' || tail
        || '"><link rel="alternate" hreflang="en-gb" href="' || site || '/en' || tail || '"></head>'
    END AS html
  FROM hl_pages
)
"""

_HREFLANG_LANG_OK = "^([a-z]{2,3}(-[a-z0-9]{2,8})*|x-default)$"


def _duck_hreflang_links_ctes() -> str:
    """links(url, lang, alt_url) + pairs — DuckDB twin of
    operators/multilingual.extract_hreflang_links over
    HREFLANG_DOCS_CTE: per-tag extract_all, rel=alternate gate checked
    on the tag (attribute-order-free), lowercased BCP 47-shaped lang
    gate, shared-resolver resolution, F1 validity."""
    return f"""{HREFLANG_DOCS_CTE.strip()},
hl_tags AS (
  SELECT url, unnest(regexp_extract_all(html,
    '(?i)<link[^>]*hreflang="[^"]*"[^>]*>')) AS tag
  FROM hreflang_docs
),
hl_decl AS (
  SELECT url,
    lower(trim(coalesce(regexp_extract(tag, '(?i)hreflang="([^"]*)"', 1), ''))) AS lang,
    trim(coalesce(regexp_extract(tag, '(?i)href="([^"]*)"', 1), '')) AS href
  FROM hl_tags WHERE regexp_matches(tag, '(?i)rel="alternate"')
),
hl_resolved AS (
  SELECT url AS page_url, lang, href, {_duck_resolve('url', 'href')} AS url
  FROM hl_decl
),
links AS (
  SELECT DISTINCT page_url AS url, lang, url AS alt_url
  FROM hl_resolved
  WHERE regexp_matches(lang, '{_HREFLANG_LANG_OK}')
    AND href <> '' AND {_valid_pred(DUCK)}
),
pairs AS (SELECT DISTINCT url, alt_url FROM links)"""


def duck_hreflang_alternates_sql() -> str:
    """DuckDB twin of operators/multilingual.hreflang_alternates:
    the declaration table with the bidirectional-confirmation flag
    (self-references mutual by definition)."""
    return f"""
WITH {_duck_hreflang_links_ctes()}
SELECT l.url, l.lang, l.alt_url,
  CAST(CASE WHEN l.url = l.alt_url OR EXISTS (
      SELECT 1 FROM pairs p WHERE p.url = l.alt_url AND p.alt_url = l.url)
    THEN 1 ELSE 0 END AS INT) AS mutual
FROM links l
"""


def duck_hreflang_clusters_sql() -> str:
    """DuckDB twin of operators/multilingual.hreflang_clusters:
    recursive min-label propagation over the MUTUAL cross-page pairs
    (same labeling the engine's large-star/small-star loop computes)."""
    return f"""
WITH RECURSIVE {_duck_hreflang_links_ctes()},
hl_mut AS (
  SELECT l.url AS u, l.alt_url AS v FROM links l
  WHERE l.url <> l.alt_url AND EXISTS (
    SELECT 1 FROM pairs p WHERE p.url = l.alt_url AND p.alt_url = l.url)
),
hl_sym AS (
  SELECT u, v FROM hl_mut UNION SELECT v AS u, u AS v FROM hl_mut
),
hl_nodes AS (SELECT DISTINCT u AS n FROM hl_sym),
hl_reach AS (
  SELECT n AS u, n AS label FROM hl_nodes
  UNION
  SELECT s.u, r.label FROM hl_sym s JOIN hl_reach r ON s.v = r.u
)
SELECT u AS url, MIN(label) AS cluster_id FROM hl_reach GROUP BY u
"""


# DUST corpus (shared dialect): (host, url, content_hash) rows.
# Arm A: sessionid varies, content constant, 3 groups per host -> dust
# on two hosts. Arm B: page selects content -> tested, never collapses.
# Arm C: utm_source varies (mixed query order — residual keys must be
# order-insensitive) over constant content while page varies it -> utm
# dust, page not. Arm D: sort collapses on one path but changes
# content on the other -> single counterexample vetoes. Arm E: one
# tested group only -> below min_groups. Arm F: no query string.
DUST_URLS_CTE = """
dust_urls AS (
  SELECT 'h' || CAST(h % 2 AS STRING) || '.example' AS host,
    'https://h' || CAST(h % 2 AS STRING) || '.example/a'
      || CAST(CAST(FLOOR(h / 2.0) AS INT) % 3 AS STRING)
      || '?sessionid=s' || CAST(CAST(FLOOR(h / 6.0) AS INT) AS STRING) AS url,
    'A' || CAST(h % 2 AS STRING)
      || CAST(CAST(FLOOR(h / 2.0) AS INT) % 3 AS STRING) AS content_hash
  FROM (SELECT DISTINCT o_orderkey % 18 AS h FROM orders)
  UNION ALL
  SELECT 'hb.example',
    'https://hb.example/b' || CAST(h % 2 AS STRING)
      || '?page=' || CAST(CAST(FLOOR(h / 2.0) AS INT) AS STRING),
    'B' || CAST(h % 2 AS STRING) || CAST(CAST(FLOOR(h / 2.0) AS INT) AS STRING)
  FROM (SELECT DISTINCT o_orderkey % 6 AS h FROM orders)
  UNION ALL
  SELECT 'hc.example',
    CASE WHEN CAST(FLOOR(h / 2.0) AS INT) = 0
      THEN 'https://hc.example/c?page=' || CAST(h % 2 AS STRING) || '&utm_source=a'
      ELSE 'https://hc.example/c?utm_source=b&page=' || CAST(h % 2 AS STRING) END,
    'C' || CAST(h % 2 AS STRING)
  FROM (SELECT DISTINCT o_orderkey % 4 AS h FROM orders)
  UNION ALL
  SELECT 'hd.example',
    'https://hd.example/d' || CAST(h % 2 AS STRING)
      || '?sort=' || CAST(CAST(FLOOR(h / 2.0) AS INT) AS STRING),
    CASE WHEN h % 2 = 0 THEN 'D0'
         ELSE 'D1-' || CAST(CAST(FLOOR(h / 2.0) AS INT) AS STRING) END
  FROM (SELECT DISTINCT o_orderkey % 4 AS h FROM orders)
  UNION ALL
  SELECT 'he.example', 'https://he.example/e?ref=r' || CAST(h AS STRING), 'E'
  FROM (SELECT DISTINCT o_orderkey % 2 AS h FROM orders)
  UNION ALL
  SELECT 'hf.example', 'https://hf.example/plain' || CAST(h AS STRING),
    'F' || CAST(h AS STRING)
  FROM (SELECT DISTINCT o_orderkey % 3 AS h FROM orders)
)
"""


def duck_dust_params_sql(min_groups: int = 2) -> str:
    """DuckDB twin of operators/dust.dust_params over DUST_URLS_CTE:
    same query-string parse, distinct-kv explode, order-insensitive
    residual key (sorted list_filter by param name), group evidence
    (n_urls >= 2 tests, n_contents = 1 collapses), and the
    all-collapsed + min_groups dust rule."""
    qre = r"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*)'"
    bre = r"'^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*)'"
    tested = "CASE WHEN n_urls >= 2 THEN 1 ELSE 0 END"
    collapsed = "CASE WHEN n_urls >= 2 AND n_contents = 1 THEN 1 ELSE 0 END"
    return f"""
WITH {DUST_URLS_CTE.strip()},
du AS (
  SELECT host, url, content_hash,
    coalesce(regexp_extract(url, {qre}, 1), '') AS qs,
    coalesce(regexp_extract(url, {bre}, 1), '') AS base
  FROM dust_urls
),
ex AS (
  SELECT host, url, content_hash, base, str_split(qs, '&') AS pairs,
         unnest(list_distinct(str_split(qs, '&'))) AS kv
  FROM du WHERE qs <> ''
),
res AS (
  SELECT host, url, content_hash, split_part(kv, '=', 1) AS param,
    base || '?' || coalesce(array_to_string(list_sort(list_filter(pairs,
      x -> split_part(x, '=', 1) <> split_part(kv, '=', 1))), '&'), '') AS residual_key
  FROM ex WHERE split_part(kv, '=', 1) <> ''
),
ev AS (
  SELECT host, param, residual_key,
         COUNT(DISTINCT url) AS n_urls,
         COUNT(DISTINCT content_hash) AS n_contents
  FROM res GROUP BY host, param, residual_key
)
SELECT host, param,
  CAST(SUM({tested}) AS BIGINT) AS groups_tested,
  CAST(SUM({collapsed}) AS BIGINT) AS groups_collapsed,
  CAST(CASE WHEN SUM({tested}) >= {min_groups}
             AND SUM({tested}) = SUM({collapsed})
       THEN 1 ELSE 0 END AS INT) AS is_dust
FROM ev GROUP BY host, param
"""


def duck_harmonic_centrality_sql(
    min_weight: int = 3, max_iters: int = 20
) -> str:
    """DuckDB twin of operators/centrality.harmonic_centrality over
    HOST_EDGES_CTE (weight >= min_weight sparsification): recursive
    bounded-walk enumeration -> MIN(d) shortest distances (identical
    to the engine's first-arrival BFS whenever max_iters >= diameter,
    which 20 guarantees on the <= 40-host corpus at every SF) ->
    floor-micro harmonic sum over incoming distances."""
    return f"""
WITH RECURSIVE {HOST_EDGES_CTE.strip()},
hc_fil AS (
  SELECT DISTINCT src_host AS u, dst_host AS v FROM edges
  WHERE weight >= {min_weight}
),
hc_nodes AS (SELECT u AS n FROM hc_fil UNION SELECT v FROM hc_fil),
hc_walk AS (
  SELECT n AS s, n AS v, 0 AS d FROM hc_nodes
  UNION
  SELECT w.s, e.v, w.d + 1 FROM hc_walk w JOIN hc_fil e ON e.u = w.v
  WHERE w.d < {max_iters}
),
hc_dist AS (SELECT s, v, MIN(d) AS d FROM hc_walk GROUP BY s, v)
SELECT v AS host,
  CAST(SUM(CAST(FLOOR(1000000.0 / d) AS BIGINT)) AS BIGINT) AS harmonic_micro,
  CAST(COUNT(*) AS BIGINT) AS n_sources
FROM hc_dist WHERE d > 0 GROUP BY v
"""


# Script-profile corpus (shared dialect): pure single-script texts in
# eight writing systems, a mixed ru/en page with a Latin majority, an
# empty text, a no-script text (digits/punctuation), and a one-one
# tie ('aб') that the listing-order rule must hand to latin.
SCRIPT_DOCS_CTE = """
script_docs AS (
  SELECT CAST(h AS BIGINT) AS doc_id,
    CASE h % 12
      WHEN 0 THEN 'The quick brown fox jumps over the lazy dog'
      WHEN 1 THEN 'Съешь же ещё этих мягких французских булок'
      WHEN 2 THEN 'hello привет world мир overpowering latin majority here'
      WHEN 3 THEN '这是一个中文句子用于测试脚本检测'
      WHEN 4 THEN 'هذه جملة عربية لاختبار النص'
      WHEN 5 THEN 'Αυτή είναι μια ελληνική πρόταση'
      WHEN 6 THEN '한국어 문장입니다 스크립트 감지'
      WHEN 7 THEN 'यह एक हिंदी वाक्य है लिपि परीक्षण'
      WHEN 8 THEN 'これはテストです カタカナ ひらがな'
      WHEN 9 THEN ''
      WHEN 10 THEN '12345 ... !!! ???'
      ELSE 'aб'
    END AS text
  FROM (SELECT DISTINCT o_orderkey % 48 AS h FROM orders)
)
"""

# RE2 spellings of functions/script.SCRIPT_CLASSES (same code-point
# ranges; Java literals there, \\x{...} escapes here)
_DUCK_SCRIPT_CLASSES = [
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("han", r"[\x{4E00}-\x{9FFF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
    ("devanagari", r"[\x{0900}-\x{097F}]"),
    ("kana", r"[\x{3040}-\x{30FF}]"),
]


def duck_script_profile_sql() -> str:
    """DuckDB twin of functions/script.script_profile over
    SCRIPT_DOCS_CTE: per-class char counts via regexp_extract_all
    length, dominant-by-listing-order as a >= GREATEST CASE chain,
    floor-micro dominant fraction over scripted chars."""
    cnt = {
        n: f"len(regexp_extract_all(text, '{pat}'))"
        for n, pat in _DUCK_SCRIPT_CLASSES
    }
    names = [n for n, _ in _DUCK_SCRIPT_CLASSES]
    total = " + ".join(f"n_{n}" for n in names)
    dom_cases = []
    for i, n in enumerate(names):
        rest = [f"n_{m}" for m in names[i + 1:]]
        cond = f"n_{n} >= GREATEST({', '.join(rest)})" if rest else "TRUE"
        dom_cases.append(f"WHEN {cond} THEN '{n}'")
    dom_name = "CASE " + " ".join(dom_cases) + " END"
    dom_cnt = f"GREATEST({', '.join('n_' + n for n in names)})"
    counts_sql = ",\n    ".join(
        f"CAST({cnt[n]} AS INT) AS n_{n}" for n in names
    )
    return f"""
WITH {SCRIPT_DOCS_CTE.strip()},
sp_counts AS (
  SELECT doc_id,
    {counts_sql}
  FROM script_docs
)
SELECT doc_id, {', '.join('n_' + n for n in names)},
  CASE WHEN ({total}) = 0 THEN 'unknown' ELSE {dom_name} END AS script,
  CAST(CASE WHEN ({total}) = 0 THEN 0
       ELSE FLOOR(1000000.0 * {dom_cnt} / ({total})) END AS BIGINT)
    AS script_frac_micro
FROM sp_counts
"""


# Lexicon-gate corpus (shared dialect): clean text; saturated spam;
# one incidental hit in a long page (ratio below the gate); a short
# page with a hit (flagged outright); a multi-word term across a
# whitespace run at exactly-above-gate density; pluralized near-misses
# the word boundary must NOT match; empty; case-folded hits.
LEXICON_DOCS_CTE = """
lexicon_docs AS (
  SELECT CAST(h AS BIGINT) AS doc_id,
    CASE h % 8
      WHEN 0 THEN 'a perfectly ordinary page about gardening tools and the '
        || 'care of perennial plants in a temperate climate with notes'
      WHEN 1 THEN 'casino jackpot betting casino jackpot win now'
      WHEN 2 THEN repeat('filler ', 59) || 'casino'
      WHEN 3 THEN 'visit our casino'
      WHEN 4 THEN repeat('pay now ', 19) || 'payday   loan'
      WHEN 5 THEN 'casinos jackpots viagras escorts are plural near misses'
      WHEN 6 THEN ''
      ELSE 'CASINO Jackpot case folding test with several neutral words'
    END AS text
  FROM (SELECT DISTINCT o_orderkey % 32 AS h FROM orders)
)
"""


def duck_lexicon_gate_sql(max_ratio_micro: int = 20_000) -> str:
    """DuckDB twin of operators/lexicon.lexicon_score over
    LEXICON_DOCS_CTE: the same combined word-boundary alternation
    (shared _term_pattern source), the shared token_count convention,
    floor-micro ratio, and the ratio-or-short-with-hit flag rule."""
    from pathik_spark.operators.lexicon import DEFAULT_LEXICON, _term_pattern

    pat = "|".join(_term_pattern(t) for t in DEFAULT_LEXICON)
    norm = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    toks = f"CASE WHEN {norm} = '' THEN 0 ELSE len(string_split({norm}, ' ')) END"
    hits = f"len(regexp_extract_all(lower(text), '{pat}'))"
    return f"""
WITH {LEXICON_DOCS_CTE.strip()},
lx AS (
  SELECT doc_id, CAST({toks} AS BIGINT) AS n_tokens,
         CAST({hits} AS BIGINT) AS n_hits
  FROM lexicon_docs
)
SELECT doc_id, n_tokens, n_hits,
  CAST(CASE WHEN n_tokens = 0 THEN 0
       ELSE FLOOR(1000000.0 * n_hits / n_tokens) END AS BIGINT)
    AS hit_ratio_micro,
  CAST(CASE WHEN (CASE WHEN n_tokens = 0 THEN 0
                  ELSE FLOOR(1000000.0 * n_hits / n_tokens) END) > {max_ratio_micro}
             OR (n_hits > 0 AND n_tokens < 5)
       THEN 1 ELSE 0 END AS INT) AS flagged
FROM lx
"""


def duck_freq_spectrum_sql(n_docs: int = 400) -> str:
    """DuckDB twin of ngrams.word_frequency_spectrum over documents:
    same word counts (shared tokens CTE; the '' token a DuckDB split
    of empty text yields is filtered — the engine's empty-guard array
    produces none), exact-integer log2 bucket via printf('%b') length
    (the engine uses bin()), two-level rollup."""
    d = DUCK
    return f"""
WITH {_tokens_cte(d, where=f"WHERE doc_id < {n_docs}")},
wcounts AS (
  SELECT tok AS word, COUNT(*) AS c FROM tokens WHERE tok <> '' GROUP BY tok
)
SELECT CAST(length(printf('%b', c)) - 1 AS INT) AS k_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(c) AS BIGINT) AS n_tokens
FROM wcounts GROUP BY 1
"""


def duck_hyperball_harmonic_sql(
    min_weight: int = 3, log2m: int = 4, max_iters: int = 12
) -> str:
    """DuckDB twin of operators/centrality.hyperball_harmonic
    (portable_hash=True) over HOST_EDGES_CTE: the identical HLL
    register recurrence stated as unrolled CTE stages.

    Exact cross-engine parity is by construction, not hope: registers
    come from the shared md5-60-bit hash (integer index/window
    arithmetic, no float division of the hash); the per-node
    ``sum(2^-r)`` over m=2^log2m registers is a sum of dyadic rationals
    whose full bit-span (4+33 bits at log2m=4) fits a double mantissa,
    so it is EXACT regardless of addition order; the alpha*m^2 constant
    is computed once in Python and inlined in both dialects; and the
    harmonic partial sums chain sequentially (hh_k = hh_{k-1} + d_k)
    in the same order as the engine's loop. The only libm calls are
    ln(m/zeros) (a finite input set: zeros in 1..m) and
    floor(log2(w)) on 32-bit integers — both engines agree on these,
    witnessed by the replica gate at two SFs. The engine's early stop
    fires only when registers are globally unchanged (monotone
    max-merge), after which every d_k is 0, so fixed-k unrolling here
    equals early-stopped iteration there whenever max_iters covers the
    graph diameter (12 >> the <= 40-host corpus diameter at every SF).
    """
    m = 1 << log2m
    mask = (1 << 32) - 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    c = alpha * m * m
    w = f"(h // {m}) % {mask + 1}"
    zeros = "SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END)"
    raw = f"{c!r} / SUM(power(2.0, -r))"
    est_expr = (
        f"CASE WHEN {zeros} > 0 AND {raw} < {2.5 * m!r} "
        f"THEN {float(m)!r} * ln({float(m)!r} / {zeros}) "
        f"ELSE {raw} END"
    )
    parts = [
        HOST_EDGES_CTE.strip(),
        f"""hb_fil AS MATERIALIZED (
  SELECT DISTINCT src_host AS u, dst_host AS v FROM edges
  WHERE weight >= {min_weight}
)""",
        "hb_nodes AS (SELECT u AS n FROM hb_fil UNION SELECT v FROM hb_fil)",
        f"""hb_hash AS (
  SELECT n, CAST(('0x' || substr(md5(n), 1, 15)) AS BIGINT) AS h FROM hb_nodes
)""",
        f"""reg0 AS MATERIALIZED (
  SELECT n AS v, t.i AS i,
    CASE WHEN t.i = CAST(h % {m} AS INT)
         THEN CASE WHEN {w} = 0 THEN 33
              ELSE 32 - CAST(FLOOR(log2(CAST({w} AS DOUBLE))) AS INT) END
         ELSE 0 END AS r
  FROM hb_hash CROSS JOIN generate_series(0, {m - 1}) t(i)
)""",
        f"""est0 AS (
  SELECT v, {est_expr} AS n FROM reg0 GROUP BY v
)""",
        "hh0 AS (SELECT v, n AS n_prev, 0.0 AS h FROM est0)",
    ]
    for k in range(1, max_iters + 1):
        parts.append(f"""reg{k} AS MATERIALIZED (
  SELECT v, i, MAX(r) AS r FROM (
    SELECT v, i, r FROM reg{k - 1}
    UNION ALL
    SELECT e.v AS v, s.i AS i, s.r AS r
    FROM reg{k - 1} s JOIN hb_fil e ON s.v = e.u
  ) u GROUP BY v, i
)""")
        parts.append(f"""est{k} AS (
  SELECT v, {est_expr} AS n FROM reg{k} GROUP BY v
)""")
        parts.append(f"""hh{k} AS (
  SELECT e.v, e.n AS n_prev,
         p.h + GREATEST(e.n - p.n_prev, 0.0) / {float(k)!r} AS h
  FROM est{k} e JOIN hh{k - 1} p ON e.v = p.v
)""")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT v AS host, ROUND(h, 6) AS harmonic_r6,\n"
        f"       ROUND(n_prev, 6) AS ball_r6\n"
        f"FROM hh{max_iters}\n"
    )


ENGINE_ORACLE_SQL = {
    "crawl_schedule_order": duck_schedule_order_sql,
    "registrable_domain": duck_registrable_domain_sql,
    "mojibake_repair": duck_mojibake_sql,
    "redirect_resolve": duck_redirect_resolve_sql,
    "redirect_chains": duck_redirect_chains_sql,
    "http_cache_ttl": duck_http_cache_ttl_sql,
    "stream_revalidate": duck_stream_revalidate_sql,
    "robots_access_policy": duck_robots_access_policy_sql,
    "sitemap_classify": duck_classify_sitemap_locs_sql,
    "retry_after": duck_retry_after_sql,
    "crawl_rounds_relational": duck_crawl_rounds_sql,
    "bloom_seen_filter": duck_bloom_seen_sql,
    "seen_probe_plan": duck_seen_probe_plan_sql,
    "extract_text_vectorized": duck_extract_text_sql,
    "css_select": duck_css_select_sql,
    "minhash_lsh_pairs": duck_minhash_lsh_sql,
    "band_pairs_i32": duck_band_pairs_i32_sql,
    "extract_links_discovery": duck_extract_links_sql,
    "pii_scrub": duck_pii_scrub_sql,
    "repetition_signals": duck_repetition_signals_sql,
    "lsh_ann_topk": duck_lsh_ann_sql,
    "embedding_neardup_lsh": duck_embedding_neardup_lsh_sql,
    "ivf_ann_exact_probe": duck_ivf_exact_sql,
    # PQ at its exact limit (rerank over ALL candidates) is brute-force
    # cosine top-k independent of the trained codebooks — same oracle
    # as the IVF exact-probe arm (operators/pq.py docstring)
    "pq_ann_exact_rerank": duck_ivf_exact_sql,
    "quality_lr_score": duck_quality_lr_sql,
    "bpe_word_counts": duck_bpe_word_counts_sql,
    "recrawl_ttl_adaptive": duck_recrawl_ttl_sql,
    "dedup_clusters": duck_dedup_clusters_sql,
    "clean_corpus": duck_clean_corpus_sql,
    "host_rank": duck_host_rank_sql,
    "robots_parse": duck_robots_parse_sql,
    "robots_wildcards": duck_robots_wildcards_sql,
    "robots_sitemaps": duck_robots_sitemaps_sql,
    "host_backoff": duck_host_backoff_sql,
    "host_delay_backoff": duck_host_delay_backoff_sql,
    "soft404_signals": duck_soft404_sql,
    "cdc_chunks": duck_cdc_chunks_sql,
    "cdc_near_pairs": duck_cdc_near_pairs_sql,
    "discover_seeds": duck_discover_seeds_sql,
    "host_mirror_pairs": duck_host_mirror_sql,
    "exact_k_sample": duck_exact_k_sample_sql,
    "meta_robots": duck_meta_robots_sql,
    "canonical_links": duck_canonical_links_sql,
    "canonical_collapse": duck_canonical_collapse_sql,
    "focused_frontier": duck_focused_frontier_sql,
    "transfer_meta": duck_transfer_meta_sql,
    "http_body_decode": duck_http_body_decode_sql,
    "paragraph_dedup": duck_paragraph_dedup_sql,
    "surt_keys": duck_surt_keys_sql,
    "cdxj_parse": duck_cdxj_parse_sql,
    "split_leakage": duck_split_leakage_sql,
    "article_dates": duck_article_dates_sql,
    "host_components": duck_host_components_sql,
    "bucket_balanced": duck_bucket_balanced_sql,
    "sitemap_urls": duck_sitemap_urls_sql,
    "sitemap_entries": duck_sitemap_entries_sql,
    "url_recrawl_ttl": duck_url_recrawl_sql,
    "warc_headers": duck_warc_headers_sql,
    "contamination_report": duck_contamination_sql,
    "stratified_sample": duck_stratified_sample_sql,
    "chunk_documents": duck_chunk_documents_sql,
    "pack_token_stream": duck_pack_stream_sql,
    "trap_signals": duck_trap_signals_sql,
    "anchor_pairs": duck_anchor_pairs_sql,
    "anchor_profile": duck_anchor_profile_sql,
    "crawl_delta": duck_crawl_delta_sql,
    "crawl_delta_stats": duck_crawl_delta_stats_sql,
    "line_dedup": duck_line_dedup_sql,
    "host_line_dedup": duck_host_line_dedup_sql,
    "gopher_rules": duck_gopher_rules_sql,
    "ngram_repetition": duck_ngram_repetition_sql,
    "content_sniff": duck_content_sniff_sql,
    "nfc_normalize": duck_nfc_normalize_sql,
    "c4_clean": duck_c4_clean_sql,
    "url_blocklist": duck_url_blocklist_sql,
    "hash_split": duck_hash_split_sql,
    "dup_spans": duck_dup_spans_sql,
    "substring_dedup": duck_substring_dedup_sql,
    "sessionize_events": duck_sessionize_sql,
    "asof_join_events": duck_asof_events_sql,
    "corpus_report": duck_corpus_report_sql,
    "page_metadata": duck_page_metadata_sql,
    "lm_score": duck_lm_score_sql,
    "perplexity_buckets": duck_perplexity_buckets_sql,
    "dsir_weights": duck_dsir_weights_sql,
    "dsir_select": duck_dsir_select_sql,
    "semdedup": duck_semdedup_sql,
    "langid_nb": duck_langid_nb_sql,
    "host_quality": duck_host_quality_sql,
    "bm25_topk": duck_bm25_topk_sql,
    "tfidf_top_terms": duck_tfidf_top_terms_sql,
    "hits_scores": duck_hits_scores_sql,
    "top_ngrams": duck_top_ngrams_sql,
    "temperature_mix": duck_temperature_mix_sql,
    "feed_urls": duck_feed_urls_sql,
    "host_graph_stats": duck_host_graph_stats_sql,
    "random_projection": duck_random_projection_sql,
    "bigram_lm_score": duck_bigram_lm_score_sql,
    "best_per_group": duck_best_per_group_sql,
    "hreflang_alternates": duck_hreflang_alternates_sql,
    "hreflang_clusters": duck_hreflang_clusters_sql,
    "dust_params": duck_dust_params_sql,
    "harmonic_centrality": duck_harmonic_centrality_sql,
    "hyperball_harmonic": duck_hyperball_harmonic_sql,
    "script_profile": duck_script_profile_sql,
    "lexicon_gate": duck_lexicon_gate_sql,
    "freq_spectrum": duck_freq_spectrum_sql,
}


ORACLE_QUERIES = {
    "tpch_q1": q_tpch_q1,
    "join_agg_revenue": q_join_agg,
    "seen_antijoin_keys": q_seen_antijoin,
    "url_seen_antijoin": q_url_seen_antijoin,
    "url_validate": q_url_validate,
    "url_domain_derivation": q_url_domain,
    "url_sanitize": q_url_sanitize,
    "url_canonicalize": q_url_canonicalize,
    "filename_assembly": q_filename_assembly,
    "priority_window": q_priority_window,
    "host_budget": q_host_budget,
    "host_metrics": q_host_metrics,
    "frontier_union_dedup": q_frontier_union_dedup,
    "retry_attempts": q_retry_attempts,
    "manifest_rollup": q_manifest_rollup,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_signature": q_minhash_signature,
    "simhash16": q_simhash16,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_neardup": q_embedding_neardup,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "kafka_shape": q_kafka_shape,
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def spark_sql_for(name: str) -> str:
    return ORACLE_QUERIES[name](SPARK)


def duck_sql_for(name: str) -> str:
    return ORACLE_QUERIES[name](DUCK)
