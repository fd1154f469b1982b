"""Query-string search — the Lucene ``QueryParser`` analog.

One string per query in the classic mini-language:

    +required -prohibited "an exact phrase" "a sloppy one"~3 optional rest

composes the engine's existing clauses: ``+term`` ⇒ boolean must,
``-term`` ⇒ must_not, ``"..."`` ⇒ exact-phrase gate against the positional
table (``-"..."`` ⇒ phrase EXCLUSION — any occurrence disqualifies the
doc, and the phrase's words never score; ``+"..."`` ≡ the bare phrase,
already required), ``"..."~N`` ⇒ ordered proximity gate (words in order within a span
of ``m-1+N`` tokens — the proximity DP; ordered-only, a documented
departure from Lucene's transposition-cost slop), bare terms ⇒ should,
``field:value`` ⇒ metadata qualifier (GitHub-code-search style:
``lang:py``, ``-source:vendored``, numeric forms ``stars:>100``
``stars:>=100`` ``stars:<100`` ``stars:<=100`` ``stars:50..200`` — a
conjunctive filter over a doc metadata relation, never a scoring clause;
unknown field ⇒ matches nothing), ``prefix*`` ⇒ trailing-star wildcard
(Lucene ``PrefixQuery``: vocab-bounded expansion; bare = expansions score
as extra should terms, ``+prefix*`` additionally requires ≥ 1 expansion
match per wildcard, ``-prefix*`` excludes any match).  Ranking is BM25
over the must + should + phrase + wildcard-expansion terms a doc matches
(phrases score like their words — Lucene's default — while ALSO gating
on adjacency/proximity).

Parsing: :func:`parse_query_string_py` is the one parser (Python ``re``
over each string).  A driver-sized top-k batch is collected once and
parsed on the driver; a standing relation of any size parses distributed
through ``mapInArrow`` over the same function; the DuckDB-oracle
generator inlines its parsed clauses as literals, the same way the phrase
fixtures do.

Grammar notes (kept deliberately small and regular):
  * ``+``/``-`` bind only at a token's start (after whitespace);
  * quoted segments are extracted first, so ``+``/``-`` inside quotes are
    literal text;
  * an unterminated quote is the user's problem — the lone ``"`` lands in
    a bare token and tokenizes away;
  * qualifiers are recognized AFTER phrase stripping (colons inside
    quotes are literal) and accept an optional ``+``/``-`` sign (``+q:v``
    ≡ ``q:v`` — both are conjunctive filters already); field NAMES are
    case-folded, values stay case-sensitive (they are data);
  * a lone ``+``/``-`` token is dropped as noise (it can never name a
    clause, and AND mode must not promote it to an unsatisfiable must);
  * a query may carry up to ``MAX_SLOTS`` phrases + wildcards together
    (one bit each in the gate mask); more raise ``ValueError``.

Plan shape of :func:`query_string_topk`: the batch is driver-sized by
contract, so it is collected ONCE over Arrow, parsed in Python and
re-planned as a one-partition local relation — no flags action runs.
Scoring is
:func:`~invertedfiles_jl_spark.operators.search._boolean_scored`: one role
table, one postings probe and one (query_id, doc_id) aggregate that
scores and applies EVERY gate.  On top of the must terms, each positive
phrase and each required ``+pre*`` group is a gate SLOT (one bit of a
long mask): phrase-hit rows (exact adjacency or the sloppy proximity DP)
join the matched postings rows with their slot bit (a negated phrase's
row carries the must_not flag instead), and wildcard expansions join the
role table as should (or must_not) terms carrying their group's bit, so
the aggregate's ``bit_or`` counts a group once however many expansions a
doc hits.  Postings are scanned once for every shape, with no
candidate-keyed gate join.  Qualifiers: one linear pass — candidates ⋈
broadcast(per-query qualifier array) ⋈ meta on doc_id, filtered by a
``forall`` over the array.  A query whose phrase never occurs — or
contains an OOV term — matches nothing, the conjunctive empty-Q contract.
:func:`query_string_percolate` parses its standing relation with
``mapInArrow`` and runs the same role table, phrase-hit producer and gate
aggregate over the doc batch's (doc_id, term, tf, doc_len) relation,
which also carries the BM25 score.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    bm25_sat,
    doc_terms,
)
from invertedfiles_jl_spark.operators.search import (
    _boolean_scored,
    _clause_tokens,
    _gated,
    _role_table,
    bm25_idf,
    topk,
)

# gate slots per query (phrases + wildcards): one bit each in a long mask
MAX_SLOTS = 64

# quoted phrase with an optional [+|-] sign directly before the opening
# quote ('-"..."' is a phrase EXCLUSION, Lucene QueryParser semantics)
# and an optional ~N slop suffix.  The full form is what stripping
# removes, so neither the sign, the quote contents nor '~2' leak into
# the bare/must token streams.
_PHRASE_RE = r'[+-]?"([^"]*)"'
_PHRASE_SIGN_RE = r'([+-]?)"[^"]*"'
_PHRASE_FULL_RE = r'[+-]?"[^"]*"(~\d+)?'
_SLOP_RE = r'[+-]?"[^"]*"(?:~(\d+))?'
# metadata qualifier: [+|-]field:value at a token start (after phrase
# stripping, so colons inside quotes are literal text).  Groups: 2 = sign
# ('' / '+' / '-'), 3 = field, 4 = value.
_QUAL_RE = r"(^|\s)([+-]?)([A-Za-z_][A-Za-z0-9_]*):(\S+)"
# trailing-star wildcard (Lucene PrefixQuery): [+|-]prefix* as a whole
# token, recognized after phrase AND qualifier stripping (a '*' inside a
# quoted phrase or a qualifier value is literal text).  Groups: 2 = sign,
# 3 = prefix.
_WILD_RE = r"(^|\s)([+-]?)([A-Za-z0-9_]+)\*(?=\s|$)"
_MUST_RE = r"(^|\s)\+(\S+)"
_MUST_NOT_RE = r"(^|\s)-(\S+)"
_BARE_STRIP_RE = r"(^|\s)[+-]\S+"
# a sign with nothing attached ('table - scan') is noise, not a clause;
# dropped so AND mode cannot promote it to an unsatisfiable must term
_LONE_SIGN_RE = r"(^|\s)[+-]+(?=\s|$)"


def parse_query_string_py(s: str) -> dict:
    """The clause split of one query string: must / should / must_not
    are space-joined strings (what :func:`boolean_topk` consumes);
    ``phrases`` the quoted segments in order with ``slops`` (``~N``
    suffix, 0 = exact) and ``phrase_signs`` ('' / '+' required ≡ bare,
    '-' = exclusion) parallel to it; the ``qual_*`` lists the parallel
    sign/field/value split of ``field:value`` qualifiers (field names
    lowercased — values stay case-sensitive, they are data); the
    ``wild_*`` lists the sign/prefix split of ``prefix*`` wildcards.
    The engine's one query-string parser: top-k batches and standing
    relations reach it through :func:`_parse_rows`, the DuckDB oracle
    generator directly."""
    phrases = re.findall(_PHRASE_RE, s)
    phrase_signs = re.findall(_PHRASE_SIGN_RE, s)
    slops = [int(m or 0) for m in re.findall(_SLOP_RE, s)]
    nophrase = re.sub(_PHRASE_FULL_RE, " ", s)
    qual_matches = re.findall(_QUAL_RE, nophrase)
    noqual = re.sub(_QUAL_RE, " ", nophrase)
    wild_matches = re.findall(_WILD_RE, noqual)
    nowild = re.sub(_WILD_RE, " ", noqual)
    must = [m[1] for m in re.findall(_MUST_RE, nowild)]
    must_not = [m[1] for m in re.findall(_MUST_NOT_RE, nowild)]
    bare = re.sub(_LONE_SIGN_RE, " ",
                  re.sub(_BARE_STRIP_RE, " ", nowild))
    return {
        "must": " ".join(must),
        "should": bare,
        "must_not": " ".join(must_not),
        "phrases": phrases,
        "slops": slops,
        "phrase_signs": phrase_signs,
        "qual_signs": [m[1] for m in qual_matches],
        "qual_fields": [m[2].lower() for m in qual_matches],
        "qual_values": [m[3] for m in qual_matches],
        "wild_signs": [m[1] for m in wild_matches],
        "wild_prefixes": [m[2].lower() for m in wild_matches],
    }


def _qual_sat(mval, v):
    """Qualifier satisfaction predicate over the doc's field value
    ``mval`` and the qualifier's value ``v`` (both string columns; plain
    column expressions, so it also runs inside a higher-order lambda).

    GitHub-style numeric forms on top of plain equality:
    ``field:>N  field:>=N  field:<N  field:<=N  field:LO..HI`` —
    evaluated numerically via ``try_cast`` (a non-numeric doc value or a
    malformed bound is simply unsatisfied, never an error).  Everything
    else is string equality.  NULL anywhere (unknown field, absent doc
    row) collapses to unsatisfied — Lucene's unknown-field behavior."""
    ge, le = v.startswith(">="), v.startswith("<=")
    gt, lt = v.startswith(">") & ~ge, v.startswith("<") & ~le
    rng = v.rlike(r"^[0-9.]+\.\.[0-9.]+$")
    mnum = mval.try_cast("double")
    n = F.regexp_extract(v, r"^[<>]=?(.*)$", 1).try_cast("double")
    bounds = F.split(v, r"\.\.")
    lo, hi = bounds[0].try_cast("double"), bounds[1].try_cast("double")
    sat = (F.when(ge, mnum >= n)
           .when(le, mnum <= n)
           .when(gt, mnum > n)
           .when(lt, mnum < n)
           .when(rng, (mnum >= lo) & (mnum <= hi))
           .otherwise(mval == v))
    return F.coalesce(sat, F.lit(False))


def query_string_topk(index: InvertedIndex, positional: DataFrame,
                      queries: DataFrame, k: int = 10,
                      rank_round: int | None = None,
                      cfg: IndexConfig | None = None,
                      content_col: str = "content",
                      meta: DataFrame | None = None,
                      qualifier_fields: tuple[str, ...] = ("lang", "source"),
                      default_operator: str = "or") -> DataFrame:
    """Parse + execute: top-``k`` (query_id, rank, doc_id, score).

    Phrase gates: a ``"..."`` phrase requires exact adjacency
    (:func:`~invertedfiles_jl_spark.operators.positional.phrase_matches`);
    a ``"..."~N`` sloppy phrase requires the words IN ORDER within an
    ordered span of ``(m-1)+N`` tokens — the proximity DP
    (:func:`~invertedfiles_jl_spark.operators.positional._chain_ends`)
    with a per-phrase span budget, ordered-only semantics (documented
    departure from Lucene's transposition-cost model).  A doc must
    satisfy EVERY positive phrase of its query and no negated one.

    Qualifier gates: ``field:value`` tokens (GitHub-code-search style,
    e.g. ``lang:py``, ``-source:vendored``, ``stars:>100``,
    ``stars:50..200`` — see :func:`_qual_sat` for the numeric forms) are
    conjunctive filters over
    the ``meta`` relation (doc_id + the ``qualifier_fields`` columns, one
    row per doc_id):
    every positive qualifier must hold and no negated one may; a
    qualifier on an unknown field is unsatisfiable (the query matches
    nothing, Lucene's unknown-field behavior).  Qualifiers never score —
    a pure-qualifier query has no scoring clause and returns no rows.
    ``meta`` is required only when the batch actually carries
    qualifiers.

    ``default_operator``: ``"or"`` (Lucene's default — bare terms are
    optional should clauses) or ``"and"`` (every bare term required, the
    Elasticsearch ``default_operator: AND`` setting).

    A query may carry at most ``MAX_SLOTS`` phrases + wildcards together
    (ValueError beyond)."""
    _check_operator(default_operator)
    cfg = cfg or index.cfg
    parsed, flags = _parse_batch(queries, content_col, default_operator)
    if flags["n_quals"] and meta is None:
        raise ValueError(
            "query strings carry field:value qualifiers — pass `meta` "
            "(doc_id + " + ", ".join(qualifier_fields) + ")")
    scored = _boolean_scored(
        index, _fold_clauses(parsed, default_operator),
        slot_terms=(_wildcard_terms(index, parsed, default_operator)
                    if flags["n_wild"] else None),
        slot_hits=(_phrase_hits(positional, parsed, cfg, flags)
                   if flags["n_ph"] else None))
    if flags["n_quals"]:
        scored = _qualifier_filter(scored, parsed, meta, qualifier_fields)
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def _check_operator(default_operator: str) -> None:
    if default_operator not in ("or", "and"):
        raise ValueError(
            f"default_operator must be 'or' or 'and', got {default_operator!r}")


_PARSED_SCHEMA = pa.schema(
    [("query_id", pa.int64())]
    + [(c, pa.string()) for c in ("must", "should", "must_not")]
    + [("phrases", pa.list_(pa.string())), ("slops", pa.list_(pa.int32()))]
    + [(c, pa.list_(pa.string())) for c in (
        "phrase_signs", "qual_signs", "qual_fields", "qual_values",
        "wild_signs", "wild_prefixes")])


def _parse_rows(batch) -> list[dict]:
    """Rows of :data:`_PARSED_SCHEMA` for an Arrow batch of (query_id,
    content): each string through :func:`parse_query_string_py` (a NULL
    string parses as empty)."""
    return [dict(parse_query_string_py(s or ""), query_id=q)
            for q, s in zip(batch["query_id"].to_pylist(),
                            batch["content"].to_pylist())]


def _parse_batch(queries: DataFrame, content_col: str,
                 default_operator: str):
    """``(parsed, flags)`` for a driver-sized batch: ONE Arrow collect of
    (query_id, content), parsed by :func:`_parse_rows`, and the gate flags
    of :func:`_clause_flags` counted in Python.  ``parsed`` — the
    :data:`_PARSED_SCHEMA` columns plus ``n_slots`` — is a one-partition
    local relation, so no plan above it reads the caller's lineage
    again."""
    rows = _parse_rows(queries.select(
        "query_id", F.col(content_col).alias("content")).toArrow())
    flags = {
        "n_ph": sum(len(r["phrases"]) for r in rows),
        "n_sloppy": sum(s > 0 for r in rows for s in r["slops"]),
        "n_quals": sum(len(r["qual_fields"]) for r in rows),
        "n_wild": sum(len(r["wild_prefixes"]) for r in rows),
        "max_slots": max((len(r["phrases"]) + len(r["wild_prefixes"])
                          for r in rows), default=None),
    }
    _check_slots(flags)
    parsed = queries.sparkSession.createDataFrame(
        pa.Table.from_pylist(rows, schema=_PARSED_SCHEMA)).coalesce(1)
    return _with_slots(parsed, default_operator), flags


def _parse_relation(queries: DataFrame, content_col: str) -> DataFrame:
    """The :data:`_PARSED_SCHEMA` relation of a distributed (query_id,
    content) relation: :func:`_parse_rows` per Arrow batch
    (``mapInArrow``), so a standing relation of any size parses where it
    lives."""

    def parse(batches):
        for b in batches:
            yield pa.RecordBatch.from_pylist(_parse_rows(b),
                                             schema=_PARSED_SCHEMA)

    return queries.select(
        "query_id", F.col(content_col).alias("content")
    ).mapInArrow(parse, from_arrow_schema(_PARSED_SCHEMA))


def _check_slots(flags) -> None:
    if (flags["max_slots"] or 0) > MAX_SLOTS:
        raise ValueError(
            f"a query carries {flags['max_slots']} phrases + wildcards; "
            f"at most {MAX_SLOTS} gate slots fit one query")


def _with_slots(parsed: DataFrame, default_operator: str) -> DataFrame:
    """``parsed`` + ``n_slots``: the gate slots a doc must fill — one per
    positive phrase and one per required wildcard group (``+pre*``; in
    AND mode bare wildcards too).  Slot bits: phrase ``i`` → bit ``i``,
    wildcard ``j`` → bit ``size(phrases) + j``."""
    req = "s != '-'" if default_operator == "and" else "s = '+'"
    return parsed.selectExpr(
        "*", "CAST(size(filter(phrase_signs, s -> s != '-')) + "
        f"size(filter(wild_signs, s -> {req})) AS BIGINT) AS n_slots")


def _fold_clauses(parsed: DataFrame, default_operator: str) -> DataFrame:
    """(query_id, n_slots, must, should, must_not) scoring/gating clause
    relation.

    POSITIVE phrases rank like their words: their text folds into the
    should field (a negated phrase is pure exclusion — its words never
    score).  ``default_operator="and"`` (Lucene QueryParser AND mode)
    folds the BARE terms into must instead — every unmarked term becomes
    required; phrase words stay should-only (the phrase is already a gate
    of its own)."""
    pos_ph = ("array_join(transform(filter(arrays_zip(phrases, phrase_signs),"
              " x -> x.phrase_signs != '-'), x -> x.phrases), ' ')")
    if default_operator == "and":
        return parsed.selectExpr(
            "query_id", "n_slots", "must_not",
            "concat_ws(' ', must, should) AS must", f"{pos_ph} AS should")
    return parsed.selectExpr(
        "query_id", "n_slots", "must", "must_not",
        f"concat_ws(' ', should, {pos_ph}) AS should")


def _clause_flags(parsed: DataFrame):
    """ONE driver action over a distributed parsed relation
    (:func:`_parse_relation`) deciding which gate families it needs
    (:func:`_parse_batch` counts the same flags in Python for a
    driver-sized batch).  Absent families add no subtree —
    no positional scan, no meta join, no vocab expansion."""
    return parsed.agg(
        F.sum(F.size("phrases")).alias("n_ph"),
        F.sum(F.expr("size(filter(slops, s -> s > 0))")).alias("n_sloppy"),
        F.sum(F.size("qual_fields")).alias("n_quals"),
        F.sum(F.size("wild_prefixes")).alias("n_wild"),
        F.max(F.size("phrases") + F.size("wild_prefixes")).alias("max_slots"),
    ).first().asDict()


def _wildcard_terms(index: InvertedIndex, parsed: DataFrame,
                    default_operator: str) -> DataFrame:
    """Expand ``prefix*`` wildcards against the index vocabulary (ONE
    broadcast theta join per batch — :func:`search.expand_prefixes`'
    shape) into role-table token rows (query_id, n_slots, role, term,
    slot_mask): expansions of a negated wildcard are must_not terms (any
    match excludes — Lucene's ``-pre*``), all others score as should
    terms (one qtf per expansion), and those of a REQUIRED wildcard
    (``+pre*``; in AND mode bare ones too) carry their group's slot bit,
    so a doc fills the slot by matching any expansion.  A required prefix
    without expansions leaves its slot unfillable (the conjunctive
    empty-Q contract).  Expansion is vocab-snapshot-bounded in search and
    percolation alike — a prefix only ever means "the index's known terms
    starting with it"."""
    sign = "w.wild_signs"
    req = f"{sign} != '-'" if default_operator == "and" else f"{sign} = '+'"
    wq = parsed.selectExpr(
        "query_id", "n_slots", "size(phrases) AS n_ph",
        "posexplode(arrays_zip(wild_signs, wild_prefixes)) AS (widx, w)",
    ).selectExpr(
        "query_id", "n_slots", "w.wild_prefixes AS prefix",
        f"IF({sign} = '-', 2, 1) AS role",
        f"IF({req}, shiftleft(1L, n_ph + widx), 0L) AS slot_mask")
    return index.vocab.select("term").join(
        F.broadcast(wq), F.col("term").startswith(F.col("prefix"))
    ).select("query_id", "n_slots", "role", "term", "slot_mask")


def _qualifier_filter(cand: DataFrame, parsed: DataFrame, meta: DataFrame,
                      qualifier_fields: tuple[str, ...]) -> DataFrame:
    """Filter candidate rows (unique per (query_id, doc_id), any extra
    columns preserved) by the conjunctive qualifier gates: one linear
    pass — the per-query qualifier array (broadcast) and the doc's
    metadata attach to each candidate, and every positive qualifier must
    hold while no negated one may.  ``meta`` carries one row per
    ``doc_id`` (a repeated doc_id would repeat its candidate rows)."""
    quals = parsed.select(
        "query_id",
        F.arrays_zip(
            F.col("qual_signs").alias("sign"),
            F.col("qual_fields").alias("field"),
            F.col("qual_values").alias("value")).alias("__quals"))
    doc_meta = meta.select(
        "doc_id",
        F.create_map(*[x for f in qualifier_fields
                       for x in (F.lit(f), F.col(f).cast("string"))])
        .alias("__meta"))

    def holds(q):
        sat = _qual_sat(F.element_at("__meta", q["field"]), q["value"])
        return sat != (q["sign"] == "-")

    return (
        cand.join(F.broadcast(quals), "query_id", "left")
        .join(doc_meta, "doc_id", "left")
        .filter(F.coalesce(F.forall("__quals", holds), F.lit(True)))
        .drop("__quals", "__meta")
    )


def _phrase_hits(positional: DataFrame, parsed: DataFrame,
                 cfg: IndexConfig, flags) -> DataFrame:
    """Phrase gate-hit rows (query_id, doc_id, slot_mask, is_not): one row
    per (phrase, doc) where the phrase occurs — exact phrases by
    adjacency, sloppy ones (``~N``) by the proximity DP within their span
    budget.  A positive phrase's row sets its slot bit, a negated one's
    sets ``is_not``.  Each phrase is keyed by a composite id
    ``query_id·2·MAX_SLOTS + i`` (``+ MAX_SLOTS`` when negated), decoded
    arithmetically — no join back to the phrase table."""
    from invertedfiles_jl_spark.functions.tokenize import tokens_sql
    from invertedfiles_jl_spark.operators.positional import (
        _chain_ends,
        phrase_matches,
    )

    stride = 2 * MAX_SLOTS
    pq = parsed.selectExpr(
        "query_id", "posexplode(arrays_zip(phrases, slops, phrase_signs))"
        " AS (pidx, p)",
    ).selectExpr(
        f"query_id * {stride} + pidx"
        f" + IF(p.phrase_signs = '-', {MAX_SLOTS}, 0) AS query_id",
        "p.phrases AS content", "p.slops AS slop")
    # each phrase family contributes its subtree only when present — an
    # all-sloppy batch skips the exact intersection plan and vice versa
    hits = None
    if flags["n_ph"] - flags["n_sloppy"]:
        hits = phrase_matches(positional, pq.filter("slop = 0"),
                              cfg).select("query_id", "doc_id")
    if flags["n_sloppy"]:
        sloppy = pq.filter("slop > 0")
        budgets = sloppy.select(
            "query_id",
            (F.size(F.expr(tokens_sql("content", cfg))) - 1
             + F.col("slop")).alias("span_budget"))
        spans = (
            _chain_ends(positional, sloppy.select("query_id", "content"),
                        cfg, None)
            .groupBy("query_id", "doc_id")
            .agg(F.min(F.col("pos") - F.col("best")).alias("min_span"))
        )
        shits = (
            spans.join(F.broadcast(budgets), "query_id")
            .filter(F.col("min_span") <= F.col("span_budget"))
            .select("query_id", "doc_id")
        )
        hits = shits if hits is None else hits.unionByName(shits)
    return hits.selectExpr(
        f"floor(query_id / {stride}) AS query_id", "doc_id",
        f"CAST(pmod(query_id, {stride}) AS INT) AS slot",
    ).selectExpr(
        "query_id", "doc_id",
        f"IF(slot < {MAX_SLOTS}, shiftleft(1L, slot), 0L) AS slot_mask",
        f"CAST(slot >= {MAX_SLOTS} AS INT) AS is_not")


def query_string_percolate(index: InvertedIndex, standing: DataFrame,
                           docs: DataFrame, cfg: IndexConfig | None = None,
                           content_col: str = "content",
                           meta: DataFrame | None = None,
                           qualifier_fields: tuple[str, ...] = (),
                           default_operator: str = "or") -> DataFrame:
    """Percolate a document batch against STANDING queries written in the
    full mini-language — the Elasticsearch percolator with query-string
    queries.  The standing relation may be millions of saved searches: it
    is parsed where it lives (:func:`_parse_relation`), never collected.

    Returns every (query_id, doc_id, n_matched, score) pair where the doc
    satisfies the query.  Candidates and every gate work on RAW tokens —
    a streamed doc can match a term the index snapshot has never seen, so
    an all-OOV saved search still fires (score 0, n_matched 0): all must
    terms present, ≥ 1 scoring term in OR mode (every bare term in AND
    mode), no must_not term, every positive phrase and no negated one
    (adjacency/proximity over the batch's own positional postings) and
    every qualifier (against ``meta``, default the doc batch itself —
    incoming docs carry their own metadata columns).
    ``score`` is the frozen-stats BM25 of
    :func:`~invertedfiles_jl_spark.streaming.serve.percolate` over the
    query's scoring terms and ``n_matched`` counts the in-vocab scoring
    terms the doc holds (index-OOV terms gate but score 0).

    Scale shape: the role table, left-joined to the index's vocab idf,
    broadcasts (same stream-static contract as the streaming server);
    per-batch work is the doc batch's (doc_id, term, tf, doc_len)
    relation (:func:`~invertedfiles_jl_spark.operators.build.doc_terms`)
    ⋈ role table — the same role table and gate aggregate as
    :func:`query_string_topk`, over doc terms instead of posting lists,
    with the score summed in that one aggregate — plus the batch's own
    positional build (only when a standing query carries a phrase); the
    index contributes vocab stats only."""
    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )

    _check_operator(default_operator)
    cfg = cfg or index.cfg
    parsed = _with_slots(_parse_relation(standing, "content"),
                         default_operator)
    flags = _clause_flags(parsed)
    _check_slots(flags)
    if flags["n_quals"] and not qualifier_fields:
        raise ValueError(
            "standing query strings carry field:value qualifiers — pass "
            "qualifier_fields naming the doc metadata columns")
    toks = _clause_tokens(_fold_clauses(parsed, default_operator), cfg)
    if flags["n_wild"]:
        toks = toks.unionByName(
            _wildcard_terms(index, parsed, default_operator))
    # every role row survives the idf lookup: an index-OOV term still
    # gates on raw doc terms, and its NULL idf scores 0
    idf = index.vocab.selectExpr(
        "term_id", f"{bm25_idf(index.stats['n_docs'])} AS idf")
    roles = idf.join(F.broadcast(_role_table(toks).drop("term")),
                     "term_id", "right")
    rows = doc_terms(docs, cfg, content_col).join(
        F.broadcast(roles), "term_id")
    if flags["n_ph"]:
        pos = positional_postings(docs, cfg, "doc_id", content_col)
        rows = rows.unionByName(_phrase_hits(pos, parsed, cfg, flags),
                                allowMissingColumns=True)
    sat = bm25_sat(index.cfg, index.stats["avg_doc_len"] or 1.0)
    per = _gated(rows, F.expr("count(IF(qtf > 0, idf, NULL)) AS n_matched"),
                 F.expr(f"coalesce(sum(qtf * idf * {sat}), 0.0D) AS score"))
    if flags["n_quals"]:
        per = _qualifier_filter(
            per, parsed, meta if meta is not None else docs,
            qualifier_fields)
    return per.select("query_id", "doc_id", "n_matched", "score")
