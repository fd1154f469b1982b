"""DuckDB oracle SQL: the shared fragments every ``__spark_entry__``
oracle is built from, and the builders for the training-data operators.

Each builder mirrors the corresponding Spark plan's arithmetic token for
token (md5/ascii/floor/round behave identically in both engines — probed).
Tokenization/shingling dialects live in functions.tokenize / operators.dedup.

Fragments, one spelling each (they take SQL text and numbers, never
mode flags):

- :func:`tokens` — the engine's default tokenizer as a DuckDB list;
- :func:`base_ctes` — ``tok/tf/dl/stats/vocab`` over a documents relation
  plus ``qtok/qt`` (:func:`query_ctes`) over a (query_id, content) one;
- :func:`bm25_idf` / :func:`bm25_sat` — the BM25 idf and saturation
  expressions; :func:`bm25_qterm` / :func:`bm25_scored` — the ``qterm``
  and ``scored`` CTE bodies built from them;
- :func:`rank_over` — the engine's rank window (default key
  ``round(score, 6) DESC, doc_id ASC``), :func:`rank_cut` — the
  ``ranked`` CTE plus the final ``rank <= k`` (or offset page) select,
  :func:`top_n` — the first n rows per group as a derived table.
"""

from __future__ import annotations

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.functions.tokenize import duckdb_tokens_sql
from invertedfiles_jl_spark.functions.text import LANG_MARKERS, STOPWORDS
from invertedfiles_jl_spark.operators.dedup import (
    N_HASHES,
    BAND_ROWS,
    SIMHASH_BITS,
    duckdb_shingles_sql,
    simhash_bit_sums_sql,
    simhash_combine_sql,
)
from invertedfiles_jl_spark.sources.queries import QUERY_SET

_CFG = IndexConfig()
_SH = duckdb_shingles_sql("text", _CFG, 3)

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

SCORE_ORDER = "round(score, 6) DESC, doc_id ASC"
SCORE_COLS = "query_id, rank, doc_id, round(score, 5) AS score"


def tokens(col: str = "text") -> str:
    """The engine's default tokenization of ``col`` as a DuckDB list."""
    return duckdb_tokens_sql(col, _CFG)


def values_sql(rows, cols: str = "query_id, content") -> str:
    """Fixture ``(id, text)`` pairs as a VALUES relation ``q(cols)``."""
    body = ", ".join(f"(CAST({qid} AS BIGINT), '{t}')" for qid, t in rows)
    return f"(VALUES {body}) AS q({cols})"


def query_ctes(queries_sql: str) -> str:
    """``qtok``/``qt``: per-query term counts of a (query_id, content)
    relation."""
    return f"""qtok AS (
  SELECT query_id, unnest({tokens('content')}) AS term FROM {queries_sql}
),
qt AS (
  SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf FROM qtok GROUP BY query_id, term
)"""


def base_ctes(queries_sql: str = values_sql(QUERY_SET), docs: str = "documents",
              text: str = "text") -> str:
    """The index as CTEs — ``tok/tf/dl/stats/vocab`` over ``docs.text`` —
    plus the query side (:func:`query_ctes`) of ``queries_sql``, which may
    read ``vocab``."""
    return f"""tok AS (
  SELECT doc_id, unnest({tokens(text)}) AS term FROM {docs}
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len, CAST(count(*) AS BIGINT) AS nnz,
         sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS norm
  FROM tf GROUP BY doc_id
),
stats AS (
  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM {docs}) AS n_docs,
         (SELECT avg(doc_len) FROM dl) AS avgdl
),
vocab AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
  FROM tf GROUP BY term
),
{query_ctes(queries_sql)}"""


def bm25_idf() -> str:
    """BM25 idf over ``n_docs`` (stats) and ``df`` (vocab)."""
    return "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"


def bm25_sat(k1: float, b: float, tf: str = "tf", dl: str = "doc_len",
             avgdl: str = "avgdl") -> str:
    """BM25 term-frequency saturation with length normalization."""
    return (f"({tf} * ({k1} + 1.0) / ({tf} + {k1} * ((1.0 - {b}) "
            f"+ {b} * {dl} / {avgdl})))")


def bm25_qterm(qt: str = "qt", w: str = "qtf", vocab: str = "vocab") -> str:
    """``qterm`` body: the in-vocab query terms of ``qt`` with weight ``w``
    and idf."""
    return (f"SELECT query_id, {qt}.term, {w}, {bm25_idf()} AS idf\n"
            f"  FROM {qt} JOIN {vocab} ON {qt}.term = {vocab}.term CROSS JOIN stats")


def bm25_scored(k1: float, b: float, qterm: str = "qterm", w: str = "qtf",
                where: str = "TRUE", min_match: int = 1) -> str:
    """``scored`` body: Σ w·idf·sat per (query, doc) over ``qterm``, with
    the matched-term count; ``where`` filters postings before the sum."""
    return f"""SELECT query_id, tf.doc_id,
         sum({w} * idf * {bm25_sat(k1, b)}) AS score,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM {qterm}
  JOIN tf ON {qterm}.term = tf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE {where}
  GROUP BY query_id, tf.doc_id HAVING count(*) >= {min_match}"""


def rank_over(order: str = SCORE_ORDER, by: str = "query_id") -> str:
    """The engine's rank: row_number over ``order`` per ``by`` group
    (no partition when ``by`` is empty)."""
    part = f"PARTITION BY {by} " if by else ""
    return f"CAST(row_number() OVER ({part}ORDER BY {order}) AS INTEGER)"


def rank_cut(src: str, k: int, cols: str = SCORE_COLS, order: str = SCORE_ORDER,
             by: str = "query_id", offset: int = 0) -> str:
    """The ``ranked`` CTE over ``src`` and the final select of ``cols``
    for ranks (offset, offset + k]."""
    return f"""ranked AS (
  SELECT *, {rank_over(order, by)} AS rank FROM {src}
)
SELECT {cols}
FROM ranked WHERE rank > {offset} AND rank <= {offset + k}"""


def top_n(src: str, n: int, cols: str, order: str = SCORE_ORDER,
          by: str = "query_id") -> str:
    """The first ``n`` rows of ``src`` per ``by`` under ``order`` (``rank``
    is selectable in ``cols``) — a derived-table body."""
    return (f"SELECT {cols} FROM (\n"
            f"    SELECT *, {rank_over(order, by)} AS rank FROM {src}\n"
            f"  ) WHERE rank <= {n}")


def phrase_hits(text: str) -> str:
    """Count of exact consecutive occurrences of ``text`` in ``ts``
    (1-based starts; empty when the doc is shorter than the phrase)."""
    ws = text.lower().split()
    conds = " AND ".join(f"ts[i+{j}] = '{w}'" for j, w in enumerate(ws))
    return f"len(list_filter(range(1, len(ts) - {len(ws)} + 2), i -> {conds}))"


def phrase_chains(phrases: list[tuple[int, str]], prefix: str = "s_") -> tuple[str, str]:
    """(position-list CTEs named ``prefix…``, chain union) of ordered m-way
    position joins over ``toks.ts``: one (query_id, doc_id, span, start)
    row per chain (fixture scale; the Spark kernel's windowed DP avoids
    exactly this blowup).  Positions are 1-based; ``start`` is shifted to
    the kernel's 0-based offsets."""
    ctes, branches = [], []
    for qid, text in phrases:
        ws = text.lower().split()
        m = len(ws)
        for j, wd in enumerate(ws):
            ctes.append(
                f"{prefix}{qid}_{j} AS (SELECT doc_id, unnest(list_filter("
                f"range(1, len(ts) + 1), i -> ts[i] = '{wd}')) AS p FROM toks)"
            )
        joins = "".join(
            f"\n  JOIN {prefix}{qid}_{j} e{j} ON e{j}.doc_id = e0.doc_id "
            f"AND e{j}.p > e{j - 1}.p" for j in range(1, m))
        branches.append(
            f"  SELECT CAST({qid} AS BIGINT) AS query_id, e0.doc_id,\n"
            f"         CAST(e{m - 1}.p - e0.p AS BIGINT) AS span,"
            f" CAST(e0.p - 1 AS BIGINT) AS start\n"
            f"  FROM {prefix}{qid}_0 e0{joins}"
        )
    return ",\n".join(ctes), "\n  UNION ALL\n".join(branches)


def _chain_ctes(phrases: list[tuple[int, str]], max_span: int | None) -> str:
    """toks, the chains and ``agg`` — min span per (query, doc), cut to
    ``max_span`` (equivalent to filtering chains first: the min is
    unchanged whenever any chain survives)."""
    cte_sql, union = phrase_chains(phrases)
    span_pred = "TRUE" if max_span is None else f"min(span) <= {max_span}"
    return f"""toks AS (
  SELECT doc_id, {tokens()} AS ts FROM documents
),
{cte_sql},
chains AS (
{union}
),
agg AS (
  SELECT query_id, doc_id, min(span) AS min_span
  FROM chains GROUP BY query_id, doc_id HAVING {span_pred}
)"""


_SPAN_ORDER = "min_span ASC, doc_id ASC"


def dedup_exact_sql() -> str:
    return """
WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
g AS (
  SELECT h, CAST(min(doc_id) AS BIGINT) AS canonical_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM h GROUP BY h HAVING count(*) > 1
)
SELECT doc_id, canonical_id, group_size FROM h JOIN g USING (h)
"""


def minhash_near_dups_sql(threshold: float = 0.5) -> str:
    mins = ",\n         ".join(
        f"min(md5(shingle || '#{h}')) AS mh{h}" for h in range(N_HASHES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(mh{b * BAND_ROWS}"
        + "".join(f" || mh{b * BAND_ROWS + r}" for r in range(1, BAND_ROWS))
        + ") AS sig FROM sig"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SH}) AS shingle FROM documents
),
sig AS (
  SELECT doc_id, {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS isize
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, round(isize / (sa.sz + sb.sz - isize), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE isize / (sa.sz + sb.sz - isize) >= {threshold}
"""


def snippet_topk_sql(phrases: list[tuple[int, str]], k: int = 10,
                     max_span: int | None = None) -> str:
    """Snippet oracle mirroring ``snippet_topk``: enumerate chains (m-way
    join, fixture scale), take min span per doc, then the EARLIEST start
    among spans equal to the min; snippet = the 0-based token slice."""
    return f"""
WITH {_chain_ctes(phrases, max_span)},
pick AS (
  SELECT c.query_id, c.doc_id, a.min_span, min(c.start) AS start
  FROM chains c
  JOIN agg a ON a.query_id = c.query_id AND a.doc_id = c.doc_id
            AND c.span = a.min_span
  GROUP BY c.query_id, c.doc_id, a.min_span
),
ranked AS (
  SELECT *, {rank_over(_SPAN_ORDER)} AS rank FROM pick
)
SELECT r.query_id, r.rank, r.doc_id, r.min_span, r.start,
       array_to_string(list_slice(t.ts, CAST(r.start + 1 AS INTEGER),
           CAST(r.start + 1 + r.min_span AS INTEGER)), ' ') AS snippet
FROM ranked r JOIN toks t ON t.doc_id = r.doc_id
WHERE r.rank <= {k}
"""


def _term_match_topk(rows: list[tuple[int, str]], col: str, match: str,
                     k: int) -> str:
    """Distinct (doc, term) pairs matched against one fixture string per
    query by ``match``; rank by distinct matching terms per doc."""
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({tokens()}) AS term FROM documents
),
scored AS (
  SELECT q.query_id, dt.doc_id,
         CAST(count(DISTINCT dt.term) AS BIGINT) AS n_terms
  FROM {values_sql(rows, f'query_id, {col}')} JOIN dt ON {match}
  GROUP BY q.query_id, dt.doc_id
),
{rank_cut('scored', k, 'query_id, rank, doc_id, n_terms', 'n_terms DESC, doc_id ASC')}
"""


def prefix_topk_sql(prefixes: list[tuple[int, str]], k: int = 10) -> str:
    """Prefix top-k oracle: distinct (doc, term) pairs from the same token
    arrays, count distinct matching terms per (prefix query, doc)."""
    return _term_match_topk(prefixes, "prefix",
                            "starts_with(dt.term, q.prefix)", k)


def pack_sequences_sql(ctx: int) -> str:
    """Sequence-packing oracle: the Spark side's two-level scan is exactly a
    global window cumsum (same doc_id order), so the closed-form mirror is
    one window + generate_series explode."""
    return f"""
WITH tl AS (
  SELECT doc_id, CAST(len({tokens()}) AS BIGINT) AS n FROM documents
),
c AS (
  SELECT doc_id, n,
         -- CAST: DuckDB's windowed sum(BIGINT) yields HUGEINT, which lands
         -- in pandas as float64 and value-hash-mismatches Spark's long.
         CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
              AS BIGINT) AS start
  FROM tl WHERE n > 0
),
spans AS (
  SELECT unnest(generate_series(CAST(floor(start / {ctx}) AS BIGINT),
                CAST(floor((start + n - 1) / {ctx}) AS BIGINT))) AS shard_id,
         doc_id, start, n
  FROM c
)
SELECT shard_id, doc_id,
       greatest(CAST(0 AS BIGINT), shard_id * {ctx} - start) AS begin_tok,
       least(n, (shard_id + 1) * {ctx} - start) AS end_tok,
       greatest(CAST(0 AS BIGINT), start - shard_id * {ctx}) AS offset_in_shard
FROM spans
"""


_PATH_TOKENS = ("list_filter(string_split_regex(lower(path), '[^a-z0-9]+'), "
                "t -> t != '')")


def _field_tokens(field: str) -> str:
    return _PATH_TOKENS if field == "path" else tokens(field)


def bm25f_topk_sql(queries: list[tuple[int, str]], k: int = 10,
                   fields: list[tuple[str, float, float]] | None = None,
                   k1: float = 1.2) -> str:
    """BM25F oracle over the derived north-rule corpus
    (sources.corpus.CORPUS_FROM_DOCUMENTS_DUCKDB): per-field tf, per-field
    length normalization, field-weighted combination BEFORE saturation —
    token-for-token the arithmetic of ``operators.fielded.bm25f_topk``
    (the saturation has no length term: it is already in ``wtf``)."""
    from invertedfiles_jl_spark.operators.fielded import DEFAULT_FIELDS
    from invertedfiles_jl_spark.sources.corpus import CORPUS_FROM_DOCUMENTS_DUCKDB

    fields = DEFAULT_FIELDS if fields is None else fields
    params = ", ".join(f"('{f}', CAST({w} AS DOUBLE), CAST({b} AS DOUBLE))"
                       for f, w, b in fields)
    tok_union = " UNION ALL ".join(
        f"SELECT doc_id, '{f}' AS field, unnest({_field_tokens(f)}) AS term FROM corpus"
        for f, _, _ in fields)
    return f"""
WITH corpus AS ({CORPUS_FROM_DOCUMENTS_DUCKDB}),
tok AS ({tok_union}),
tf AS (
  SELECT doc_id, field, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok GROUP BY doc_id, field, term
),
flen AS (
  SELECT doc_id, field, sum(tf) AS flen FROM tf GROUP BY doc_id, field
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM corpus),
avglen AS (
  SELECT field, sum(flen) / (SELECT n_docs FROM stats) AS avglen
  FROM flen GROUP BY field
),
params(field, w, b) AS (VALUES {params}),
vocab AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY term
),
{query_ctes(values_sql(queries))},
qterm AS ({bm25_qterm()}),
norm AS (
  SELECT query_id, tf.doc_id, tf.term, qtf, idf,
         p.w * tf.tf / (1.0 - p.b + p.b * flen.flen / avglen.avglen) AS wtf_f
  FROM qterm
  JOIN tf ON qterm.term = tf.term
  JOIN flen ON tf.doc_id = flen.doc_id AND tf.field = flen.field
  JOIN avglen ON tf.field = avglen.field
  JOIN params p ON tf.field = p.field
),
pt AS (
  SELECT query_id, doc_id, term, qtf, idf, sum(wtf_f) AS wtf
  FROM norm GROUP BY query_id, doc_id, term, qtf, idf
),
scored AS (
  SELECT query_id, doc_id,
         sum(qtf * idf * wtf * {k1 + 1.0} / ({k1} + wtf)) AS score
  FROM pt GROUP BY query_id, doc_id
),
{rank_cut('scored', k)}
"""


def wildcard_topk_sql(patterns: list[tuple[int, str]], k: int = 10) -> str:
    """Wildcard top-k oracle: same distinct (doc, term) relation as the
    prefix oracle, matched on SQL LIKE with ``*`` → ``%`` (fixture patterns
    contain no literal ``%``/``_``, so the engine's escape pass is a
    no-op on them)."""
    return _term_match_topk(patterns, "pattern",
                            "dt.term LIKE replace(q.pattern, '*', '%')", k)


def dismax_topk_sql(queries: list[tuple[int, str]], k: int = 10,
                    tie: float = 0.3,
                    fields: list[tuple[str, float, float]] | None = None,
                    k1: float = 1.2) -> str:
    """DisMax oracle over the derived north-rule corpus — each field an
    independent BM25 (own df/idf/length stats), per-field score rounded to
    9 dp, then max_f + tie · (Σ_f − max_f): token-for-token the arithmetic
    of ``operators.fielded.dismax_topk``."""
    from invertedfiles_jl_spark.operators.fielded import DEFAULT_FIELDS
    from invertedfiles_jl_spark.sources.corpus import CORPUS_FROM_DOCUMENTS_DUCKDB

    fields = DEFAULT_FIELDS if fields is None else fields
    parts = [f"""
corpus AS ({CORPUS_FROM_DOCUMENTS_DUCKDB}),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM corpus),
{query_ctes(values_sql(queries))}"""]
    unions = []
    for fname, w, b in fields:
        sat = bm25_sat(k1, repr(b), "t.tf", "fl.flen", "a.avglen")
        parts.append(f"""
tf_{fname} AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest({_field_tokens(fname)}) AS term FROM corpus)
  GROUP BY doc_id, term
),
flen_{fname} AS (
  SELECT doc_id, sum(tf) AS flen FROM tf_{fname} GROUP BY doc_id
),
avg_{fname} AS (
  SELECT sum(flen) / (SELECT n_docs FROM stats) AS avglen FROM flen_{fname}
),
df_{fname} AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf_{fname} GROUP BY term
),
qterm_{fname} AS ({bm25_qterm(vocab=f'df_{fname}')}),
s_{fname} AS (
  SELECT query_id, t.doc_id,
         round({w!r} * sum(qtf * idf * {sat}), 9) AS s
  FROM qterm_{fname}
  JOIN tf_{fname} t ON qterm_{fname}.term = t.term
  JOIN flen_{fname} fl ON t.doc_id = fl.doc_id
  CROSS JOIN avg_{fname} a
  GROUP BY query_id, t.doc_id
)""")
        unions.append(f"SELECT query_id, doc_id, s FROM s_{fname}")
    u = "\n  UNION ALL\n  ".join(unions)
    return f"""
WITH {','.join(parts)},
u AS ({u}),
comb AS (
  SELECT query_id, doc_id, max(s) AS mx, sum(s) AS tot
  FROM u GROUP BY query_id, doc_id
),
scored AS (
  SELECT query_id, doc_id, mx + {tie!r} * (tot - mx) AS score FROM comb
),
{rank_cut('scored', k)}
"""


def regex_topk_sql(patterns: list[tuple[int, str]], k: int = 10) -> str:
    """Regex top-k oracle: the wildcard oracle's distinct (doc, term)
    relation matched on ``regexp_full_match`` — whole-term anchoring, the
    same semantics the engine gets from its explicit ``^(?:…)$`` wrap."""
    return _term_match_topk(patterns, "pattern",
                            "regexp_full_match(dt.term, q.pattern)", k)


def fuzzy_topk_sql(fuzzy: list[tuple[int, str]], k: int = 10,
                   max_dist: int = 1) -> str:
    """Fuzzy top-k oracle: DuckDB's classic ``levenshtein`` mirrors
    Spark's; the length prefilter is only a speedup and does not change
    the match set."""
    return _term_match_topk(fuzzy, "qterm",
                            f"levenshtein(dt.term, q.qterm) <= {max_dist}", k)


def hash_split_sql(weights: dict[str, float], salt: str = "split") -> str:
    """Mirror of ``sampling.hash_split`` over documents: identical md5
    bucket, identical cumulative thresholds."""
    from invertedfiles_jl_spark.operators.sampling import (
        _thresholds,
        duckdb_split_bucket_sql,
    )

    nt = _thresholds(weights)
    cases = " ".join(
        f"WHEN b < {t} THEN '{name}'" for name, t in nt[:-1])
    case = (f"CASE {cases} ELSE '{nt[-1][0]}' END" if cases
            else f"'{nt[-1][0]}'")
    return f"""
WITH b AS (
  SELECT doc_id, {duckdb_split_bucket_sql('doc_id', salt)} AS b
  FROM documents
)
SELECT doc_id, {case} AS split FROM b
"""


def stratified_sample_sql(fractions: dict[str, float], strata_col: str,
                          default: float = 0.0,
                          salt: str = "sample") -> str:
    """Mirror of ``sampling.stratified_sample`` over documents."""
    from invertedfiles_jl_spark.operators.sampling import (
        HASH_SPACE,
        duckdb_split_bucket_sql,
    )

    cases = " ".join(
        f"WHEN {strata_col} = '{name}' THEN {int(frac * HASH_SPACE)}"
        for name, frac in fractions.items())
    thr = (f"CASE {cases} ELSE {int(default * HASH_SPACE)} END" if cases
           else str(int(default * HASH_SPACE)))
    return f"""
SELECT doc_id, {strata_col}
FROM documents
WHERE {duckdb_split_bucket_sql('doc_id', salt)} < {thr}
"""


def significant_terms_sql(n: int = 10, min_fg: int = 3,
                          jlh_round: int = 6) -> str:
    """Mirror of ``meta.significant_terms`` over documents stratified by
    ``lang``: distinct document presence, JLH = (fg% − bg%)·(fg%/bg%)."""
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({tokens()}) AS term FROM documents
),
dts AS (
  SELECT dt.doc_id, dt.term, d.lang FROM dt JOIN documents d USING (doc_id)
),
ss AS (
  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_stratum
  FROM documents GROUP BY lang
),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
bg AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS bg
  FROM dts GROUP BY term
),
fg AS (
  SELECT lang, term, CAST(count(DISTINCT doc_id) AS BIGINT) AS fg
  FROM dts GROUP BY lang, term
),
scored AS (
  SELECT fg.lang, fg.term, fg.fg, bg.bg,
         fg.fg / CAST(n_stratum AS DOUBLE) AS fg_pct,
         bg.bg / (SELECT n_docs FROM stats) AS bg_pct
  FROM fg JOIN bg USING (term) JOIN ss USING (lang)
  WHERE fg.fg >= {min_fg}
),
j AS (
  SELECT lang, term, fg, bg,
         (fg_pct - bg_pct) * (fg_pct / bg_pct) AS jlh
  FROM scored WHERE fg_pct > bg_pct
),
{rank_cut('j', n, f'lang AS stratum, rank, term, fg, bg, round(jlh, {jlh_round}) AS jlh',
          f'round(jlh, {jlh_round}) DESC, term ASC', by='lang')}
"""


def temperature_sample_sql(strata_col: str, temperature: float = 2.0,
                           salt: str = "temp") -> str:
    """Mirror of ``sampling.temperature_sample`` over documents: identical
    md5 bucket, identical rate arithmetic (quantized with round 6 before
    thresholding, so a last-ULP ``pow`` divergence cannot flip a row)."""
    from invertedfiles_jl_spark.operators.sampling import (
        HASH_SPACE,
        duckdb_split_bucket_sql,
    )

    expo = 1.0 - 1.0 / float(temperature)
    return f"""
WITH c AS (
  SELECT {strata_col}, CAST(count(*) AS BIGINT) AS _c
  FROM documents GROUP BY {strata_col}
),
thr AS (
  SELECT {strata_col},
         CAST(floor(round(pow(CAST((SELECT min(_c) FROM c) AS DOUBLE)
              / CAST(_c AS DOUBLE), {expo}), 6) * {HASH_SPACE}) AS BIGINT)
              AS _thr
  FROM c
)
SELECT d.doc_id, d.{strata_col}
FROM documents d JOIN thr USING ({strata_col})
WHERE {duckdb_split_bucket_sql('d.doc_id', salt)} < _thr
"""


def near_dup_clusters_sql(threshold: float = 0.5) -> str:
    """Connected components of the verified MinHash pair graph via a
    recursive reachability CTE (label = min reachable doc_id) — the
    closed-form mirror of the Spark side's min-label propagation loop.
    ``pairs`` and ``edges`` are MATERIALIZED: DuckDB 1.0 otherwise inlines
    them and recomputes the MinHash pairs on every recursion step."""
    pairs = minhash_near_dups_sql(threshold)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.b AS doc_id, r.label FROM reach r JOIN edges e ON e.a = r.doc_id
),
lab AS (
  SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id
  FROM reach GROUP BY doc_id
),
szs AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster_id
)
SELECT doc_id, cluster_id, cluster_size FROM lab JOIN szs USING (cluster_id)
"""


def ngram_set_dups_sql() -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SH}) AS shingle FROM documents
),
fp AS (
  SELECT doc_id, md5(string_agg(shingle, chr(1) ORDER BY shingle)) AS fp
  FROM sh GROUP BY doc_id
),
g AS (
  SELECT fp, CAST(min(doc_id) AS BIGINT) AS canonical_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM fp GROUP BY fp HAVING count(*) > 1
)
SELECT doc_id, canonical_id, group_size FROM fp JOIN g USING (fp)
"""


def simhash_sql() -> str:
    sums = ",\n         ".join(f"{e} AS {a}" for e, a in simhash_bit_sums_sql(SIMHASH_BITS))
    return f"""
WITH {base_ctes()},
hashed AS (SELECT doc_id, md5(term) AS h, tf FROM tf),
sums AS (
  SELECT doc_id, {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({simhash_combine_sql(SIMHASH_BITS)} AS BIGINT) AS simhash FROM sums
"""


def _lang_exprs() -> tuple[str, str]:
    """(hit_cols, pred) fragments of the marker-argmax language gate —
    shared by ``lang_id_sql`` and ``curate_sql``."""
    langs = sorted(LANG_MARKERS)
    # python list repr uses single quotes — valid DuckDB list literal
    hit_cols = ",\n         ".join(
        f"len(list_intersect({tokens()}, {LANG_MARKERS[lang]!r})) AS hits_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    pred = "CASE WHEN " + f"{best} <= 0 THEN 'und' "
    for lang in langs:
        pred += f"WHEN hits_{lang} = {best} THEN '{lang}' "
    pred += "END"
    return hit_cols, pred


def lang_id_sql() -> str:
    hit_cols, pred = _lang_exprs()
    return f"""
WITH scored AS (
  SELECT doc_id, {hit_cols}
  FROM documents
)
SELECT doc_id, {pred} AS pred_lang FROM scored
"""


def token_stats_sql() -> str:
    t = tokens()
    return f"""
SELECT doc_id,
       CAST(len({t}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({t})) AS BIGINT) AS n_distinct,
       round(list_sum(list_transform({t}, x -> length(x))) / greatest(len({t}), 1), 6) AS mean_token_len
FROM documents
"""


def _quality_exprs() -> tuple[str, str, str]:
    """(stop_ratio, distinct_ratio, quality) expression fragments — shared
    by ``quality_score_sql`` and ``curate_sql``."""
    t = tokens()
    stop = str(STOPWORDS)
    n = f"len({t})"
    stops = f"len(list_filter({t}, x -> list_contains({stop}, x)))"
    distinct = f"len(list_distinct({t}))"
    sr = f"({stops} / greatest({n}, 1))"
    dr = f"({distinct} / greatest({n}, 1))"
    q = f"(0.5 * least({n} / 100.0, 1.0) + 0.3 * {dr} + 0.2 * (1.0 - abs({sr} - 0.4)))"
    return sr, dr, q


def quality_score_sql() -> str:
    sr, dr, q = _quality_exprs()
    return f"""
SELECT doc_id,
       round({sr}, 6) AS stopword_ratio,
       round({dr}, 6) AS distinct_ratio,
       round({q}, 6) AS quality
FROM documents
"""


def fingerprint_sql() -> str:
    return f"SELECT doc_id, md5(array_to_string({tokens()}, ' ')) AS fp FROM documents"


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

_DOT = ("(SELECT sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) "
        "FROM (SELECT unnest({x}) a, unnest({y}) b))")
_NRM = ("sqrt((SELECT sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) "
        "FROM (SELECT unnest({x}) a)))")

_COS_ORDER = "round(cos, 6) DESC, vec_id ASC"
_COS_COLS = "query_id, rank, vec_id, round(cos, 5) AS cos"
_CLUSTER_ORDER = "round(cos, 9) DESC, cluster ASC"


def _cos(x: str, y: str) -> str:
    return f"({_DOT.format(x=x, y=y)} / ({_NRM.format(x=x)} * {_NRM.format(x=y)}))"


def vec_queries(n_queries: int, name: str = "q") -> str:
    """CTE ``name``: the first ``n_queries`` vectors as (query_id, q_emb)."""
    return (f"{name} AS (SELECT vec_id AS query_id, embedding AS q_emb "
            f"FROM embeddings WHERE vec_id < {n_queries})")


def _assign(name: str, cents: str) -> str:
    """CTE ``name``: each vector's nearest centroid of ``cents``
    (round(cos, 9) desc, cluster asc)."""
    return f"""{name}_scored AS (
  SELECT e.vec_id, c.cluster, {_cos('c.c_emb', 'e.embedding')} AS cos
  FROM embeddings e CROSS JOIN {cents} c
),
{name} AS ({top_n(f'{name}_scored', 1, 'vec_id, cluster', _CLUSTER_ORDER, by='vec_id')})"""


def ivf_ctes(n_clusters: int, lloyd_iters: int = 1) -> str:
    """``cents``/``assign`` of ``operators.ann.ivf_topk``: seed centroids =
    the first n vectors, then ``lloyd_iters`` steps (0 or 1) of assign →
    per-cluster per-dimension mean, then the final assignment."""
    assert lloyd_iters in (0, 1), "oracle supports lloyd_iters 0 or 1"
    seed = (f"SELECT vec_id AS cluster, embedding AS c_emb FROM embeddings "
            f"WHERE vec_id < {n_clusters}")
    if lloyd_iters == 0:
        return f"cents AS ({seed}),\n{_assign('assign', 'cents')}"
    return f"""seed AS ({seed}),
{_assign('a0', 'seed')},
cents AS (
  SELECT cluster, list(m ORDER BY pos) AS c_emb FROM (
    SELECT a.cluster, pos, avg(CAST(e.embedding[pos] AS DOUBLE)) AS m
    FROM a0 a JOIN embeddings e USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS pos)
    GROUP BY a.cluster, pos
  ) GROUP BY cluster
),
{_assign('assign', 'cents')}"""


def ivf_probe_ctes(n_clusters: int, nprobe: int, n_queries: int,
                   lloyd_iters: int = 1) -> str:
    """:func:`ivf_ctes`, the query vectors ``q`` and ``probed`` — each
    query's top-``nprobe`` centroids."""
    return f"""{ivf_ctes(n_clusters, lloyd_iters)},
{vec_queries(n_queries)},
qprobe AS (
  SELECT q.query_id, c.cluster, {_cos('q.q_emb', 'c.c_emb')} AS cos
  FROM q CROSS JOIN cents c
),
probed AS ({top_n('qprobe', nprobe, 'query_id, cluster', _CLUSTER_ORDER)})"""


def _rescore_cut(k: int) -> str:
    """Exact cosine re-score of the ``cand`` (query_id, vec_id) pairs and
    the final rank at round(cos, 6)."""
    return f"""rescored AS (
  SELECT c.query_id, c.vec_id, {_cos('q.q_emb', 'e.embedding')} AS cos
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id
),
{rank_cut('rescored', k, _COS_COLS, _COS_ORDER)}"""


def ann_bruteforce_sql(k: int = 10, n_queries: int = 5) -> str:
    return f"""
WITH {vec_queries(n_queries)},
scored AS (
  SELECT q.query_id, e.vec_id, {_cos('q.q_emb', 'e.embedding')} AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id != q.query_id
),
{rank_cut('scored', k, _COS_COLS, _COS_ORDER)}
"""


def ann_ivf_sql(k: int = 10, n_clusters: int = 16, nprobe: int = 4,
                n_queries: int = 5, lloyd_iters: int = 1) -> str:
    """Mirrors ``operators.ann.ivf_topk`` including the Lloyd refinement
    (:func:`ivf_ctes`), self excluded."""
    return f"""
WITH {ivf_probe_ctes(n_clusters, nprobe, n_queries, lloyd_iters)},
cands AS (
  SELECT p.query_id, a.vec_id, q.q_emb, e.embedding AS d_emb
  FROM probed p
  JOIN assign a ON a.cluster = p.cluster
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT query_id, vec_id, {_cos('q_emb', 'd_emb')} AS cos FROM cands
),
{rank_cut('scored', k, _COS_COLS, _COS_ORDER)}
"""


def embedding_near_dups_sql(threshold: float = 0.8, n_clusters: int = 8,
                            n_bands: int | None = None,
                            band_width: int = 8) -> str:
    """Mirrors ``operators.ann.embedding_near_duplicates`` token for token,
    including the sign-band LSH candidate stage when ``n_bands`` is set
    (DuckDB lists are 1-based — band i covers elements
    ``i*band_width+1 .. (i+1)*band_width``)."""
    if n_bands is None:
        cand = """
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM wc a JOIN wc b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)"""
    else:
        band_rows = "\n  UNION ALL\n".join(
            f"  SELECT vec_id, cluster, {i} AS band, "
            "array_to_string(list_transform("
            f"embedding[{i * band_width + 1}:{(i + 1) * band_width}], "
            "x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS sig FROM wc"
            for i in range(n_bands)
        )
        cand = f"""
banded AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.cluster = b.cluster AND a.band = b.band AND a.sig = b.sig
   AND a.vec_id < b.vec_id
)"""
    return f"""
WITH {ivf_ctes(n_clusters, lloyd_iters=0)},
wc AS (SELECT e.vec_id, e.embedding, a.cluster FROM embeddings e JOIN assign a USING (vec_id)),{cand},
pairs AS (
  SELECT c.vec_a, c.vec_b, {_cos('ea.embedding', 'eb.embedding')} AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cos, 6) AS cos FROM pairs WHERE cos >= {threshold}
"""


# ---------------------------------------------------------------------------
# multimodal (operators.multimodal) — md5/sha256-hex arithmetic mirrors
# attach_media/_stub_features exactly
# ---------------------------------------------------------------------------

_MEDIA_H = ("(ascii(substr(md5(text), 1, 1)) * 65536 "
            "+ ascii(substr(md5(text), 2, 1)) * 256 "
            "+ ascii(substr(md5(text), 3, 1)))")


def media_features_sql(dim: int = 16) -> str:
    """Oracle for features_long: the stub feature vector is uint32
    little-endian words of the repeated sha256 digest, scaled to [0,1) as
    float32 — all reproducible from the hex digest with strpos math."""
    def hv(pos: int) -> str:
        return f"(strpos('0123456789abcdef', substr(d, {pos}, 1)) - 1)"

    def byte(bi: int) -> str:  # 0-based digest byte → int expr
        return f"({hv(2 * bi + 1)} * 16 + {hv(2 * bi + 2)})"

    cases = []
    for i in range(dim):
        bb = (i % 8) * 4  # 32-byte digest = 8 words; dims 8.. repeat
        u = " + ".join(f"{byte(bb + j)} * {256 ** j}" for j in range(4))
        cases.append(f"WHEN dim = {i} THEN CAST({u} AS BIGINT)")
    u_expr = "CASE " + " ".join(cases) + " END"
    return f"""
WITH m AS (
  SELECT doc_id, {_MEDIA_H} AS h, sha256(text) AS d FROM documents
),
base AS (
  SELECT doc_id,
         CASE WHEN h % 3 = 0 THEN 'image' WHEN h % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         d
  FROM m
),
ex AS (
  SELECT doc_id, modality, d, unnest(generate_series(0, {dim - 1})) AS dim
  FROM base
)
SELECT doc_id, modality, CAST(dim AS INTEGER) AS dim,
       round(CAST(CAST(({u_expr}) / 4294967296.0 AS REAL) AS DOUBLE), 7) AS value
FROM ex
"""


def frame_sample_plan_sql(every_n: int = 30) -> str:
    return f"""
WITH m AS (
  SELECT doc_id, {_MEDIA_H} AS h FROM documents
),
v AS (SELECT doc_id, (h % 300 + 1) AS n_frames FROM m WHERE h % 3 = 2)
SELECT doc_id,
       CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), {every_n})) AS INTEGER) AS frame_idx
FROM v
"""


def rolling_fingerprint_sql(window: int = 16, mod: int = 2147483647,
                            base: int = 257) -> str:
    """Oracle for functions.text.rolling_fingerprint: same Karp–Rabin
    polynomial over code points, powers from a recursive CTE, window sums
    (DuckDB sums BIGINT into HUGEINT, so no overflow) and per-segment
    hashes from the cut boundaries."""
    w1 = window - 1
    return f"""
WITH RECURSIVE pw(k, p) AS (
  SELECT 0, CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1, (p * {base}) % {mod} FROM pw
  WHERE k < (SELECT coalesce(max(length(text)), 1) FROM documents)
),
dn AS (SELECT doc_id, length(text) AS n, text FROM documents WHERE length(text) > 0),
cc AS (
  SELECT doc_id, n, pos - 1 AS t, unicode(substr(text, CAST(pos AS INTEGER), 1)) AS code
  FROM (SELECT doc_id, n, text, unnest(generate_series(1, n)) AS pos FROM dn)
),
wh AS (
  SELECT cc.doc_id, cc.t - o.j AS wstart,
         CAST(sum(cc.code * pwj.p) % {mod} AS BIGINT) AS h
  FROM cc
  JOIN (SELECT unnest(generate_series(0, {w1})) AS j) o ON cc.t - o.j >= 0
  JOIN pw pwj ON pwj.k = {w1} - o.j
  GROUP BY cc.doc_id, cc.t - o.j
  HAVING count(*) = {window}
),
bounds AS (
  SELECT DISTINCT doc_id, b FROM (
    SELECT doc_id, 0 AS b FROM dn
    UNION ALL SELECT doc_id, n FROM dn
    UNION ALL SELECT doc_id, wstart + {window} AS b FROM wh WHERE h % 64 = 0
  )
),
segs AS (
  SELECT doc_id, l, r,
         row_number() OVER (PARTITION BY doc_id ORDER BY l) - 1 AS chunk_idx
  FROM (
    SELECT doc_id, b AS l, lead(b) OVER (PARTITION BY doc_id ORDER BY b) AS r
    FROM bounds
  ) WHERE r IS NOT NULL AND r > l
)
SELECT s.doc_id, CAST(s.chunk_idx AS INTEGER) AS chunk_idx,
       CAST(sum((cc.code * pwj.p) % {mod}) % {mod} AS BIGINT) AS chunk_hash
FROM segs s
JOIN cc ON cc.doc_id = s.doc_id AND cc.t >= s.l AND cc.t < s.r
JOIN pw pwj ON pwj.k = s.r - 1 - cc.t
GROUP BY s.doc_id, s.chunk_idx
"""


# ---------------------------------------------------------------------------
# positional index + phrase search (operators/positional.py)
# ---------------------------------------------------------------------------


def positional_postings_sql() -> str:
    """Exploded positional postings (term, doc_id, pos) — 0-based offsets
    over the SAME filtered token array the Spark build indexes (parallel
    ``unnest`` + ``generate_subscripts`` zip in DuckDB)."""
    return f"""
WITH toks AS (
  SELECT doc_id, {tokens()} AS ts FROM documents
)
SELECT unnest(ts) AS term, doc_id,
       CAST(generate_subscripts(ts, 1) - 1 AS INTEGER) AS pos
FROM toks
"""


def phrase_topk_sql(phrases: list[tuple[int, str]], k: int = 10) -> str:
    """Phrase top-k oracle: per fixture phrase, count the starts where
    every token matches consecutively (:func:`phrase_hits`), then rank
    phrase_tf DESC, doc_id ASC — the Spark kernel's KnnSorted contract."""
    union = "\n  UNION ALL\n".join(
        f"  SELECT CAST({qid} AS BIGINT) AS query_id, doc_id,\n"
        f"         CAST({phrase_hits(text)} AS BIGINT) AS phrase_tf\n"
        f"  FROM toks"
        for qid, text in phrases)
    return f"""
WITH toks AS (
  SELECT doc_id, {tokens()} AS ts FROM documents
),
scored AS (
{union}
),
{rank_cut('scored WHERE phrase_tf > 0', k, 'query_id, rank, doc_id, phrase_tf',
          'phrase_tf DESC, doc_id ASC')}
"""


def proximity_topk_sql(phrases: list[tuple[int, str]], k: int = 10,
                       max_span: int | None = None) -> str:
    """Ordered-proximity oracle mirroring ``proximity_topk``: the min
    ordered span per doc over the explicit m-way chains
    (:func:`_chain_ctes`), rank min_span ASC / doc_id ASC."""
    return f"""
WITH {_chain_ctes(phrases, max_span)},
{rank_cut('agg', k, 'query_id, rank, doc_id, min_span', _SPAN_ORDER)}
"""


def ann_sq8_sql(k: int = 10, depth: int = 50, n_queries: int = 5) -> str:
    """Mirrors ``operators.ann.sq8_topk``: per-dimension min/max quantizer
    (min/max are order-independent ⇒ bit-identical codebooks), int8 codes
    via round((v-mn)/s) on non-negative quotients (HALF_UP in both
    engines), approximate rank on the decoded ``mn + code*s`` vectors, top
    ``depth`` candidate cut at round(acos, 6), exact re-score of the
    candidates, final rank at round(cos, 6)."""
    return f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
sc AS (
  SELECT pos, min(v) AS mn,
         CASE WHEN max(v) > min(v) THEN (max(v) - min(v)) / 255.0 ELSE 1.0 END AS s
  FROM dims GROUP BY pos
),
dehat AS (
  SELECT d.vec_id, d.pos,
         sc.mn + CAST(least(255.0, greatest(0.0, round((d.v - sc.mn) / sc.s))) AS INT) * sc.s AS dv
  FROM dims d JOIN sc USING (pos)
),
{vec_queries(n_queries)},
qdims AS (
  SELECT query_id, generate_subscripts(q_emb, 1) AS pos,
         CAST(unnest(q_emb) AS DOUBLE) AS qv
  FROM q
),
qn AS (SELECT query_id, sqrt(sum(qv * qv)) AS nq FROM qdims GROUP BY query_id),
dn AS (SELECT vec_id, sqrt(sum(dv * dv)) AS nd FROM dehat GROUP BY vec_id),
ascored AS (
  SELECT qd.query_id, dh.vec_id, sum(qd.qv * dh.dv) / (any_value(qn.nq) * any_value(dn.nd)) AS acos
  FROM qdims qd
  JOIN dehat dh USING (pos)
  JOIN qn ON qn.query_id = qd.query_id
  JOIN dn ON dn.vec_id = dh.vec_id
  WHERE dh.vec_id != qd.query_id
  GROUP BY qd.query_id, dh.vec_id
),
cand AS ({top_n('ascored', depth, 'query_id, vec_id', 'round(acos, 6) DESC, vec_id ASC')}),
{_rescore_cut(k)}
"""


def semantic_dedup_sql(threshold: float = 0.4, n_clusters: int = 8,
                       n_bands: int | None = None,
                       band_width: int = 8) -> str:
    """Mirrors ``operators.ann.semantic_dedup``: the near-duplicate pair
    relation (same CTE chain as ``embedding_near_dups_sql``) reduced to the
    one-pass keep-min policy — a vector is dropped iff some lower-id
    same-cluster vector is within the threshold; ``dup_of`` = the smallest
    such id."""
    pairs = embedding_near_dups_sql(threshold, n_clusters, n_bands, band_width)
    return f"""
WITH pr AS ({pairs}),
dups AS (SELECT vec_b AS vec_id, min(vec_a) AS dup_of FROM pr GROUP BY vec_b)
SELECT e.vec_id, d.dup_of IS NULL AS kept,
       coalesce(d.dup_of, -1) AS dup_of
FROM embeddings e LEFT JOIN dups d ON d.vec_id = e.vec_id
"""


def lm_perplexity_sql(alpha: float = 0.5, ppl_round: int = 4) -> str:
    """Mirrors ``functions.text.lm_perplexity``: add-alpha unigram LM from
    the corpus's own counts, per-doc exp(mean negative log-likelihood)."""
    return f"""
WITH occ AS (SELECT doc_id, unnest({tokens()}) AS term FROM documents),
counts AS (SELECT term, count(*) AS c FROM occ GROUP BY term),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM counts),
probs AS (
  SELECT term, (c + {alpha}) / (n + {alpha} * (v + 1.0)) AS p
  FROM counts CROSS JOIN tot
),
dt AS (SELECT doc_id, term, count(*) AS tf FROM occ GROUP BY doc_id, term),
agg AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         -sum(tf * ln(p)) / sum(tf) AS h
  FROM dt JOIN probs USING (term)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(exp(h), {ppl_round}) AS ppl FROM agg
"""


def curate_sql(langs: tuple[str, ...] = ("en",), quality_min: float = 0.45,
               near_threshold: float = 0.5,
               max_top_bigram_frac: float | None = None) -> str:
    """Mirrors ``operators.curation.curate``: the full curation verdict —
    language gate, quality gate (same rounded-to-6dp value as
    ``quality_score_sql``), exact-dup keep-min, near-dup keep-min — with
    the first-failing-gate reason attribution.  The dedup drop lists embed
    the existing ``dedup_exact_sql`` / ``near_dup_clusters_sql`` bodies as
    derived tables, so one oracle row pins the whole composition."""
    hit_cols, pred = _lang_exprs()
    _, _, q = _quality_exprs()
    langs_lit = str(list(langs))
    rep_cte = ""
    rep_join = ""
    rep_when = ""
    if max_top_bigram_frac is not None:
        rep_cte = f"""
rt AS (SELECT doc_id, {tokens()} AS toks FROM documents),
rg AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM rt
),
rp AS (
  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
  FROM (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY doc_id, g)
  GROUP BY doc_id
),"""
        rep_join = "\n  LEFT JOIN rp ON rp.doc_id = l.doc_id"
        rep_when = (f"\n              WHEN coalesce(rp.top_bigram_frac, 0) > "
                    f"{max_top_bigram_frac} THEN 'repetition'")
    return f"""
WITH{rep_cte} ex AS (
  SELECT doc_id FROM ({dedup_exact_sql()}) WHERE doc_id != canonical_id
),
near AS (
  SELECT doc_id FROM ({near_dup_clusters_sql(near_threshold)}) WHERE doc_id != cluster_id
),
scored AS (
  SELECT doc_id, {hit_cols},
         round({q}, 6) AS quality
  FROM documents
),
lbl AS (SELECT doc_id, {pred} AS pred_lang, quality FROM scored),
r AS (
  SELECT l.doc_id,
         CASE WHEN NOT list_contains({langs_lit}, l.pred_lang) THEN 'lang'
              WHEN l.quality < {quality_min} THEN 'quality'{rep_when}
              WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
              WHEN near.doc_id IS NOT NULL THEN 'near_dup'
              ELSE 'ok' END AS reason
  FROM lbl l
  LEFT JOIN ex ON ex.doc_id = l.doc_id
  LEFT JOIN near ON near.doc_id = l.doc_id{rep_join}
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM r
"""


_L2 = ("(SELECT sum((a - b) * (a - b)) "
       "FROM (SELECT unnest({x}) a, unnest({y}) b))")


def _pq_ctes(m: int, ksub: int, n_queries: int, dim: int) -> str:
    """Product-quantizer CTEs of ``operators.ann.pq_topk``: per-subspace
    codebooks (first-ksub seeds + one L2-Lloyd step), squared-L2 codes
    (argmin at round 9, tie cluster asc) and the per-query ADC lookup
    table ``lut``."""
    assert dim % m == 0
    sub_len = dim // m
    sub_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id AS id, {mi} AS m, "
        f"list_transform(embedding[{mi * sub_len + 1}:{(mi + 1) * sub_len}], "
        "x -> CAST(x AS DOUBLE)) AS sub FROM embeddings"
        for mi in range(m)
    )

    def nearest(cents: str) -> str:
        pairs = (f"(SELECT s.id, s.m, c.cluster, {_L2.format(x='s.sub', y='c.c_sub')} AS l2 "
                 f"FROM subs s JOIN {cents} c ON c.m = s.m)")
        return top_n(pairs, 1, "id, m, cluster", "round(l2, 9) ASC, cluster ASC",
                     by="id, m")

    return f"""subs AS (
{sub_rows}
),
pseed AS (SELECT m, id AS cluster, sub AS c_sub FROM subs WHERE id < {ksub}),
p0 AS ({nearest('pseed')}),
pcents AS (
  SELECT m, cluster, list(mu ORDER BY pos) AS c_sub FROM (
    SELECT p0.m, p0.cluster, pos, avg(s.sub[pos]) AS mu
    FROM p0 JOIN subs s ON s.id = p0.id AND s.m = p0.m,
         LATERAL (SELECT unnest(generate_series(1, len(s.sub))) AS pos)
    GROUP BY p0.m, p0.cluster, pos
  ) GROUP BY m, cluster
),
codes AS (SELECT id AS vec_id, m, cluster AS code FROM ({nearest('pcents')})),
lut AS (
  SELECT s.id AS query_id, s.m, c.cluster AS code,
         {_DOT.format(x='s.sub', y='c.c_sub')} AS part
  FROM subs s JOIN pcents c ON c.m = s.m
  WHERE s.id < {n_queries}
)"""


_ADC_CUT = "round(adot, 6) DESC, vec_id ASC"


def pq_topk_sql(k: int = 10, m: int = 8, ksub: int = 16, depth: int = 50,
                n_queries: int = 5, dim: int = 64,
                lloyd_iters: int = 1) -> str:
    """Mirrors ``operators.ann.pq_topk``: :func:`_pq_ctes`, ADC scoring
    (sum of per-subspace dots), top-``depth`` cut at round(adot, 6), exact
    cosine re-score, final rank at round(cos, 6)."""
    assert lloyd_iters == 1, "oracle mirrors exactly one Lloyd step"
    return f"""
WITH {_pq_ctes(m, ksub, n_queries, dim)},
{vec_queries(n_queries)},
adc AS (
  SELECT l.query_id, cd.vec_id, sum(l.part) AS adot
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY l.query_id, cd.vec_id
),
cand AS ({top_n('adc', depth, 'query_id, vec_id', _ADC_CUT)}),
{_rescore_cut(k)}
"""


def ivf_pq_topk_sql(k: int = 10, n_clusters: int = 16, nprobe: int = 4,
                    m: int = 8, ksub: int = 16, depth: int = 50,
                    n_queries: int = 5, dim: int = 64) -> str:
    """Mirrors ``operators.ann.ivf_pq_topk``: the coarse stage is exactly
    the ``ann_ivf_sql`` assignment chain (first-n seeds + one Lloyd step,
    probe = top-nprobe centroids per query), the fine stage exactly the
    ``pq_topk_sql`` codebook/ADC chain restricted to in-probe vectors,
    then the shared exact-rescore tail."""
    return f"""
WITH {ivf_probe_ctes(n_clusters, nprobe, n_queries)},
{_pq_ctes(m, ksub, n_queries, dim)},
adc AS (
  SELECT l.query_id, cd.vec_id, sum(l.part) AS adot
  FROM codes cd
  JOIN assign ia ON ia.vec_id = cd.vec_id
  JOIN probed p ON p.cluster = ia.cluster
  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY l.query_id, cd.vec_id
),
cand AS ({top_n('adc', depth, 'query_id, vec_id', _ADC_CUT)}),
{_rescore_cut(k)}
"""


def repetition_stats_sql() -> str:
    """Mirrors ``functions.text.repetition_stats``: per-order explode →
    per-(doc, gram) count → max/sum, LEFT-joined so short/empty docs report
    0 (DuckDB lists are 1-based: bigram i spans toks[i], toks[i+1] for
    i in 1..len-1)."""
    def gram_cte(n: int, name: str) -> str:
        if n == 1:
            grams = "toks"
        else:
            concat = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
            grams = (f"CASE WHEN len(toks) >= {n} THEN "
                     f"list_transform(range(1, len(toks) - {n - 2}), "
                     f"i -> {concat}) ELSE CAST([] AS VARCHAR[]) END")
        return f"""
g{n} AS (SELECT doc_id, unnest({grams}) AS g FROM t),
p{n} AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS {name} FROM (
    SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""
    return f"""
WITH t AS (SELECT doc_id, {tokens()} AS toks FROM documents),{gram_cte(1, 'f1')},{gram_cte(2, 'f2')},{gram_cte(3, 'f3')}
SELECT d.doc_id,
       round(coalesce(p1.f1, 0), 6) AS top_word_frac,
       round(coalesce(p2.f2, 0), 6) AS top_bigram_frac,
       round(coalesce(p3.f3, 0), 6) AS top_trigram_frac
FROM documents d
LEFT JOIN p1 ON p1.doc_id = d.doc_id
LEFT JOIN p2 ON p2.doc_id = d.doc_id
LEFT JOIN p3 ON p3.doc_id = d.doc_id
"""


def scrub_pii_sql(content_expr: str = "text") -> str:
    """Mirrors ``functions.text.scrub_pii`` over ``content_expr`` (an SQL
    expression over ``documents``): identical regex text (RE2- and
    Java-compatible, no lookaround), counts on the original text, chained
    global replaces in dict order; redacted text md5'd for a compact
    value hash."""
    from invertedfiles_jl_spark.functions.text import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all({content_expr}, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = content_expr
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
SELECT doc_id,
       {counts},
       md5({red}) AS red_md5
FROM documents
"""
