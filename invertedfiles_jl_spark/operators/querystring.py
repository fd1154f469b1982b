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

Parsing is PURE COLUMN WORK (three ``regexp_extract_all`` / two
``regexp_replace`` passes) so a standing-query relation of any size parses
distributed — no driver loop; :func:`parse_query_string_py` is the
one-string Python mirror used by tests and by the DuckDB-oracle generator
(the oracle inlines the parsed clauses as literals, the same way the
phrase fixtures do).

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
  * a query may carry up to ``MAX_PHRASES`` phrases (the composite
    phrase-key stride — ids collide past that; fixtures sit far below).

Plan shape: the caller's batch is read ONCE — parsed, then collected into
a local relation (``createDataFrame(parsed.toArrow())``), so every branch
below reads a ``LocalTableScan``.  Scoring is
:func:`~invertedfiles_jl_spark.operators.search._boolean_scored`: one
postings probe and one (query, doc) aggregate that scores and applies the
must/must_not gates together, so a batch without required wildcards scans
postings once.  On top comes one gate per clause family the batch
carries.  Phrases:
``positional ⋈ broadcast(phrase slots)`` keyed on a composite (query,
phrase) id and one (query, doc) count compared against the per-query
phrase count (Q rows, broadcast).  Required wildcards: the same
count-vs-needed join over ``_distinct_term_matches``.  Qualifiers: one
linear pass — candidates ⋈ broadcast(per-query qualifier array) ⋈ meta
on doc_id, filtered by a ``forall`` over the array.  No gate reads the
candidates a second time, so the scoring subtree appears once in the
plan.  A query whose phrase never occurs — or contains an OOV term —
matches nothing, the conjunctive empty-Q contract.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import InvertedIndex
from invertedfiles_jl_spark.operators.search import (
    _boolean_scored,
    _distinct_term_matches,
    topk,
)

MAX_PHRASES = 128

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


def parse_query_strings(queries: DataFrame,
                        content_col: str = "content") -> DataFrame:
    """(query_id, must, should, must_not, phrases, slops, phrase_signs,
    qual_*, wild_*) — clause columns are space-joined strings (what
    :func:`boolean_topk` consumes); ``phrases`` an ``array<string>`` of
    the quoted segments in order with ``slops`` (``~N`` suffix, 0 =
    exact) and ``phrase_signs`` ('' / '+' required ≡ bare, '-' =
    exclusion) parallel to it; the ``qual_*`` arrays the parallel
    sign/field/value split of ``field:value`` qualifiers (field names
    lowercased — values stay case-sensitive, they are data); the
    ``wild_*`` arrays the sign/prefix split of ``prefix*`` wildcards."""
    phrases = F.expr(
        f"regexp_extract_all({content_col}, r'{_PHRASE_RE}', 1)")
    phrase_signs = F.expr(
        f"regexp_extract_all({content_col}, r'{_PHRASE_SIGN_RE}', 1)")
    slops = F.expr(
        f"transform(regexp_extract_all({content_col}, r'{_SLOP_RE}', 1), "
        f"s -> CASE WHEN s = '' THEN 0 ELSE CAST(s AS INT) END)")
    # stage 1: phrases out; stage 2: qualifiers out; stage 3: wildcards
    # out; clause regexes see only what remains
    nophrase = f"regexp_replace({content_col}, r'{_PHRASE_FULL_RE}', ' ')"
    noqual = f"regexp_replace({nophrase}, r'{_QUAL_RE}', ' ')"
    nowild = f"regexp_replace({noqual}, r'{_WILD_RE}', ' ')"

    def quals(idx: int):
        return F.expr(f"regexp_extract_all({nophrase}, r'{_QUAL_RE}', {idx})")

    def wilds(idx: int):
        return F.expr(f"regexp_extract_all({noqual}, r'{_WILD_RE}', {idx})")

    must = F.array_join(
        F.expr(f"regexp_extract_all({nowild}, r'{_MUST_RE}', 2)"), " ")
    must_not = F.array_join(
        F.expr(f"regexp_extract_all({nowild}, r'{_MUST_NOT_RE}', 2)"), " ")
    bare = F.regexp_replace(
        F.regexp_replace(F.expr(nowild), _BARE_STRIP_RE, " "),
        _LONE_SIGN_RE, " ")
    return queries.select(
        "query_id",
        must.alias("must"),
        bare.alias("should"),
        must_not.alias("must_not"),
        phrases.alias("phrases"),
        slops.alias("slops"),
        phrase_signs.alias("phrase_signs"),
        F.expr(f"transform(regexp_extract_all({nophrase}, r'{_QUAL_RE}', 3),"
               f" f -> lower(f))").alias("qual_fields"),
        quals(2).alias("qual_signs"),
        quals(4).alias("qual_values"),
        wilds(2).alias("wild_signs"),
        F.expr(f"transform(regexp_extract_all({noqual}, r'{_WILD_RE}', 3), "
               f"p -> lower(p))").alias("wild_prefixes"),
    )


def parse_query_string_py(s: str) -> dict:
    """Python mirror of :func:`parse_query_strings` for one string —
    byte-for-byte the same clause split (tests gate the parity)."""
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
    departure from Lucene's transposition-cost model).  Both paths emit
    (composite qp_id, doc_id) hits; a doc must satisfy EVERY phrase of
    its query.

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
    Elasticsearch ``default_operator: AND`` setting)."""
    _check_operator(default_operator)
    cfg = cfg or index.cfg
    # the batch is driver-sized by contract: collect it once over Arrow so
    # every branch below reads a LocalTableScan, not the caller's lineage
    # (a list-built batch would re-unpickle its rows once per branch)
    parsed = parse_query_strings(queries, content_col)
    parsed = parsed.sparkSession.createDataFrame(parsed.toArrow())
    flags = _clause_flags(parsed)
    folded, req = _wildcard_setup(index, parsed,
                                  _fold_clauses(parsed, default_operator),
                                  flags, default_operator)
    scored = _boolean_scored(index, folded)
    if req is not None:
        n_req, req_terms = req
        gh = _distinct_term_matches(
            index,
            req_terms.select(
                (F.col("query_id") * MAX_PHRASES + F.col("widx"))
                .alias("query_id"), "term_id").distinct())
        # gh holds one row per (wildcard group, doc): a plain count is
        # the number of distinct groups hit
        group_hits = (
            gh.select(
                F.floor(F.col("query_id") / MAX_PHRASES).alias("query_id"),
                "doc_id")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_wild_hit"))
        )
        scored = _required_wildcard_filter(scored, n_req, group_hits)
    if flags["n_quals"]:
        if meta is None:
            raise ValueError(
                "query strings carry field:value qualifiers — pass `meta` "
                "(doc_id + " + ", ".join(qualifier_fields) + ")")
        scored = _qualifier_filter(scored, parsed, meta, qualifier_fields)
    if flags["n_ph"]:
        scored = _phrase_filter(scored, parsed, positional, cfg, flags)
    return topk(scored.select("query_id", "doc_id", "score"),
                k, "score", ascending=False, rank_round=rank_round)


def _check_operator(default_operator: str) -> None:
    if default_operator not in ("or", "and"):
        raise ValueError(
            f"default_operator must be 'or' or 'and', got {default_operator!r}")


def _fold_clauses(parsed: DataFrame, default_operator: str) -> DataFrame:
    """(query_id, must, should, must_not) scoring/gating clause relation.

    POSITIVE phrases rank like their words: their text folds into the
    should field (a negated phrase is pure exclusion — its words never
    score).  ``default_operator="and"`` (Lucene QueryParser AND mode)
    folds the BARE terms into must instead — every unmarked term becomes
    required; phrase words stay should-only (the phrase is already a gate
    of its own)."""
    pos_ph = F.expr(
        "array_join(transform(filter(arrays_zip(phrases, phrase_signs), "
        "x -> x.phrase_signs != '-'), x -> x.phrases), ' ')")
    if default_operator == "and":
        return parsed.select(
            "query_id", "must_not",
            F.concat_ws(" ", F.col("must"), F.col("should")).alias("must"),
            pos_ph.alias("should"),
        )
    return parsed.select(
        "query_id", "must", "must_not",
        F.concat_ws(" ", F.col("should"), pos_ph).alias("should"),
    )


def _clause_flags(parsed: DataFrame):
    """ONE tiny-relation driver action deciding which gate families a
    batch needs (the query batch is driver-sized by contract, same as
    the proximity DP's own max(m) action).  A batch without phrases /
    qualifiers / wildcards keeps its physical plan free of the
    corresponding subtree — no positional scan, no meta join, no vocab
    expansion — instead of dragging empty-but-planned gate joins through
    every execution."""
    return parsed.agg(
        F.sum(F.size("phrases")).alias("n_ph"),
        F.sum(F.expr("size(filter(slops, s -> s > 0))")).alias("n_sloppy"),
        F.sum(F.expr(
            "size(filter(phrase_signs, s -> s = '-'))")).alias("n_ph_neg"),
        F.sum(F.size("qual_fields")).alias("n_quals"),
        F.sum(F.size("wild_prefixes")).alias("n_wild"),
        F.sum(F.expr(
            "size(filter(wild_signs, s -> s = '+'))")).alias("n_wild_plus"),
        F.sum(F.expr(
            "size(filter(wild_signs, s -> s = ''))")).alias("n_wild_bare"),
    ).first()


def _wildcard_parts(index: InvertedIndex, parsed: DataFrame,
                    default_operator: str):
    """Expand ``prefix*`` wildcards against the index vocabulary (ONE
    broadcast theta join per batch — :func:`search.expand_prefixes`'
    shape) and split by sign:

    Returns ``(wild_should, wild_not, n_req, req_terms)``:
    * ``wild_should`` — (query_id, wild_should): space-joined sorted
      expansion terms of the non-negated wildcards, appended to the
      should field so expansions SCORE like ordinary words (one qtf
      each);
    * ``wild_not`` — (query_id, wild_not): expansion terms of negated
      wildcards, appended to must_not (any match excludes — exact Lucene
      semantics for ``-pre*``);
    * ``n_req`` — (query_id, n_req_wilds) counted from the PARSE, so an
      OOV required prefix (zero expansions) makes its query unsatisfiable
      (conjunctive empty-Q contract);
    * ``req_terms`` — (query_id, widx, term, term_id) of the REQUIRED
      wildcards (``+pre*``; in AND mode bare wildcards too): the caller
      gates candidates on ≥ 1 match per (query, wildcard) group.

    Expansion is vocab-snapshot-bounded in both search and percolation —
    a prefix only ever means "the index's known terms starting with it".
    """
    wq = parsed.select(
        "query_id",
        F.posexplode(F.arrays_zip(
            F.col("wild_signs").alias("sign"),
            F.col("wild_prefixes").alias("prefix"))).alias("widx", "w"),
    ).select("query_id", "widx", "w.sign", "w.prefix")
    if default_operator == "and":
        wq = wq.withColumn(
            "sign", F.when(F.col("sign") == "", "+").otherwise(F.col("sign")))
    exp = index.vocab.select("term", "term_id").join(
        F.broadcast(wq), F.col("term").startswith(F.col("prefix")))
    wild_should = (
        exp.filter(F.col("sign") != "-").groupBy("query_id")
        .agg(F.concat_ws(" ", F.sort_array(F.collect_list("term")))
             .alias("wild_should"))
    )
    wild_not = (
        exp.filter(F.col("sign") == "-").groupBy("query_id")
        .agg(F.concat_ws(" ", F.sort_array(F.collect_list("term")))
             .alias("wild_not"))
    )
    n_req = wq.filter(F.col("sign") == "+").groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_req_wilds"))
    req_terms = exp.filter(F.col("sign") == "+").select(
        "query_id", "widx", "term", "term_id")
    return wild_should, wild_not, n_req, req_terms


def _fold_wildcards(folded: DataFrame, wild_should: DataFrame,
                    wild_not: DataFrame) -> DataFrame:
    """Append the expansion strings to the clause relation (concat_ws
    skips the NULLs of queries without wildcards).  Both expansion
    relations aggregate to ≤ one row per query — broadcast, so the tiny
    clause relation never shuffles."""
    return (
        folded.join(F.broadcast(wild_should), "query_id", "left")
        .join(F.broadcast(wild_not), "query_id", "left")
        .select(
            "query_id", "must",
            F.concat_ws(" ", "should", "wild_should").alias("should"),
            F.concat_ws(" ", "must_not", "wild_not").alias("must_not"),
        )
    )


def _wildcard_setup(index: InvertedIndex, parsed: DataFrame,
                    folded: DataFrame, flags, default_operator: str):
    """Shared wildcard wiring for the forward and percolation paths:
    expand, fold the expansion strings into the clause relation, and
    decide whether a required-group gate is needed.  Returns
    ``(folded, req)`` with ``req = (n_req, req_terms)`` or ``None``."""
    if not flags["n_wild"]:
        return folded, None
    ws, wn, n_req, req_terms = _wildcard_parts(index, parsed,
                                               default_operator)
    folded = _fold_wildcards(folded, ws, wn)
    n_required = flags["n_wild_plus"] + (
        flags["n_wild_bare"] if default_operator == "and" else 0)
    return folded, ((n_req, req_terms) if n_required else None)


def _required_wildcard_filter(cand: DataFrame, n_req: DataFrame,
                              group_hits: DataFrame) -> DataFrame:
    """Gate candidates on required-wildcard group coverage:
    ``group_hits`` = (query_id, doc_id, n_wild_hit) distinct satisfied
    groups; every parsed ``+pre*`` group must be hit."""
    zero = F.lit(0).cast("long")
    return (
        cand.join(F.broadcast(n_req), "query_id", "left")
        .join(group_hits, ["query_id", "doc_id"], "left")
        .filter(F.coalesce("n_req_wilds", zero) ==
                F.coalesce("n_wild_hit", zero))
        .drop("n_req_wilds", "n_wild_hit")
    )


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


def _phrase_filter(cand: DataFrame, parsed: DataFrame, positional: DataFrame,
                   cfg: IndexConfig, flags) -> DataFrame:
    """Filter candidate rows by the per-phrase adjacency/proximity gates:
    a doc must satisfy EVERY positive phrase of its query and NO negated
    one (``-"..."`` — Lucene's phrase exclusion)."""
    from invertedfiles_jl_spark.functions.tokenize import tokens_sql
    from invertedfiles_jl_spark.operators.positional import (
        _chain_ends,
        phrase_matches,
    )

    pq = parsed.select(
        "query_id", F.posexplode("phrases").alias("pidx", "content"),
        F.col("slops"), F.col("phrase_signs"),
    ).select(
        (F.col("query_id") * MAX_PHRASES + F.col("pidx")).alias("query_id"),
        "content",
        F.element_at("slops", F.col("pidx") + 1).alias("slop"),
        F.element_at("phrase_signs", F.col("pidx") + 1).alias("sign"),
    )
    qp_signs = pq.select(F.col("query_id").alias("qp_id"), "sign")
    exact = pq.filter(F.col("slop") == 0).select("query_id", "content")
    sloppy = pq.filter(F.col("slop") > 0)
    # each phrase family contributes its subtree only when present — an
    # all-sloppy batch skips the exact intersection plan and vice versa
    hits = None
    if flags["n_ph"] - flags["n_sloppy"]:
        hits = phrase_matches(positional, exact, cfg).select(
            "query_id", "doc_id")
    if flags["n_sloppy"]:
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
    # hits hold one row per (phrase, doc), so plain conditional counts
    # are the distinct phrases satisfied / excluded
    hit = (
        hits.select(
            F.floor(F.col("query_id") / MAX_PHRASES).alias("query_id"),
            F.col("query_id").alias("qp_id"), "doc_id")
        .join(F.broadcast(qp_signs), "qp_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.when(F.col("sign") != "-", 1).otherwise(0))
            .cast("long").alias("n_ph_hit"),
            F.sum(F.when(F.col("sign") == "-", 1).otherwise(0))
            .cast("long").alias("n_neg_ph_hit"),
        )
    )
    need = parsed.select(
        "query_id",
        F.expr("size(filter(phrase_signs, s -> s != '-'))")
        .alias("n_phrases"))
    zero = F.lit(0).cast("long")
    return (
        cand.join(F.broadcast(need), "query_id", "left")
        .join(hit, ["query_id", "doc_id"], "left")
        .filter((F.coalesce("n_phrases", zero) ==
                 F.coalesce("n_ph_hit", zero)) &
                (F.coalesce("n_neg_ph_hit", zero) == zero))
        .drop("n_phrases", "n_ph_hit", "n_neg_ph_hit")
    )


def query_string_percolate(index: InvertedIndex, standing: DataFrame,
                           docs: DataFrame, cfg: IndexConfig | None = None,
                           content_col: str = "content",
                           meta: DataFrame | None = None,
                           qualifier_fields: tuple[str, ...] = (),
                           default_operator: str = "or") -> DataFrame:
    """Percolate a document batch against STANDING queries written in the
    full mini-language — the Elasticsearch percolator with query-string
    queries, and the case the distributed parser exists for: the standing
    relation may be millions of saved searches, parsed as column work.

    Returns every (query_id, doc_id, n_matched, score) pair where the doc
    satisfies the query.  Candidates and every gate work on RAW tokens —
    a streamed doc can match a term the index snapshot has never seen, so
    an all-OOV saved search still fires (score 0, n_matched 0): all must
    terms present, ≥ 1 scoring term in OR mode (every bare term in AND
    mode), no must_not term, every positive phrase and no negated one
    (adjacency/proximity over the batch's own positional postings) and
    every qualifier (against ``meta``, default the doc batch itself —
    incoming docs carry their own metadata columns).
    ``score``/``n_matched`` are the frozen-stats BM25 of
    :func:`~invertedfiles_jl_spark.streaming.serve.percolate` over the
    query's scoring terms (index-OOV terms gate but score 0).

    Scale shape: the standing relation broadcasts (same stream-static
    contract as the streaming server); per-batch work is the matched
    occurrence rows, the batch's own positional build (only when any
    standing query carries a phrase), and candidate-keyed gate joins —
    the index contributes vocab stats only, no posting lists."""
    from invertedfiles_jl_spark.functions.tokenize import exploded_terms
    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )
    from invertedfiles_jl_spark.streaming.serve import percolate

    _check_operator(default_operator)
    cfg = cfg or index.cfg
    parsed = parse_query_strings(standing, "content")
    flags = _clause_flags(parsed)
    if flags["n_quals"] and not qualifier_fields:
        raise ValueError(
            "standing query strings carry field:value qualifiers — pass "
            "qualifier_fields naming the doc metadata columns")
    folded, req = _wildcard_setup(index, parsed,
                                  _fold_clauses(parsed, default_operator),
                                  flags, default_operator)

    sq = folded.select(
        "query_id",
        F.concat_ws(" ", F.col("must"), F.col("should")).alias("content"))
    pscore = percolate(index, sq, docs, require_all=False,
                       content_col=content_col)

    # raw-token clause gates: doc term sets vs the broadcast clause tokens
    dt = exploded_terms(docs, "doc_id", "doc_id", content_col, cfg).distinct()

    # candidate pairs come from RAW tokens (disjunctive: ≥ 1 scoring
    # term), so a standing query whose terms are all index-OOV still
    # fires on a doc that literally contains one — the raw-token contract
    # the docstring promises.  The vocab-scored pairs (every one also a
    # raw match) then attach score/n_matched, defaulting to 0.
    st = exploded_terms(sq, "query_id", "query_id", "content",
                        cfg).distinct()
    cand = dt.join(F.broadcast(st), "term").select(
        "doc_id", "query_id").distinct()
    zero_l = F.lit(0).cast("long")
    per = (
        cand.join(pscore, ["doc_id", "query_id"], "left")
        .select("doc_id", "query_id",
                F.coalesce("n_matched", zero_l).alias("n_matched"),
                F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
    )

    def clause_tokens(col):
        # (query_id, term) — exploded_terms' doc_out slot carries the
        # query id here
        return exploded_terms(
            folded.select("query_id", col), "query_id", "query_id", col, cfg
        ).distinct()

    mt = clause_tokens("must")
    n_must = mt.groupBy("query_id").agg(
        F.countDistinct("term").cast("long").alias("n_must"))
    musthit = (
        dt.join(F.broadcast(mt), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.countDistinct("term").cast("long").alias("n_must_hit"))
    )
    zero = F.lit(0).cast("long")
    per = (
        per.join(F.broadcast(n_must), "query_id", "left")
        .join(musthit, ["doc_id", "query_id"], "left")
        .filter(F.coalesce("n_must", zero) == F.coalesce("n_must_hit", zero))
        .drop("n_must", "n_must_hit")
    )
    nt = clause_tokens("must_not")
    excluded = dt.join(F.broadcast(nt), "term").select(
        "doc_id", "query_id").distinct()
    per = per.join(excluded, ["doc_id", "query_id"], "left_anti")

    if req is not None:
        n_req, req_terms = req
        wt = req_terms.select("query_id", "widx", "term").distinct()
        group_hits = (
            dt.join(F.broadcast(wt), "term")
            .groupBy("doc_id", "query_id")
            .agg(F.countDistinct("widx").cast("long").alias("n_wild_hit"))
        )
        per = _required_wildcard_filter(per, n_req, group_hits)

    if flags["n_quals"]:
        per = _qualifier_filter(
            per, parsed, meta if meta is not None else docs,
            qualifier_fields)
    if flags["n_ph"]:
        pos = positional_postings(docs, cfg, "doc_id", content_col)
        per = _phrase_filter(per, parsed, pos, cfg, flags)
    return per.select("query_id", "doc_id", "n_matched", "score")
