"""Query-string mini-language (operators/querystring.py).

Three layers: (1) the one parser's clause split, and the two routes
over it — percolating the indexed corpus against the fixture set plus
adversarial strings must return exactly the pairs and scores of top-k
search; (2) gate semantics on an inline corpus — must/must_not/phrase
conjunction, OOV behavior, multi-phrase AND; (3) rank parity: a
phrase-free query string must rank exactly like ``boolean_topk`` given
the same clauses (the composition contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.positional import positional_postings
from invertedfiles_jl_spark.operators.querystring import (
    parse_query_string_py,
    query_string_percolate,
    query_string_topk,
)
from invertedfiles_jl_spark.operators.search import boolean_topk
from invertedfiles_jl_spark.sources.queries import QSTRING_SET

ADVERSARIAL = [
    "",                          # empty string
    "   ",                       # whitespace only
    "plain terms only",
    "+a +b +c",                  # all-must
    "-x -y",                     # all-not
    '"one" "two" "three"',       # multi-phrase
    '"unterminated rest',        # lone quote → literal token
    'trailing+plus+ -lead',      # interior + literal, leading - binds
    '+"not a phrase marker"',    # + then quote: quote extracted first
    'a  double   spaces +m',
    '"sloppy one"~2 "exact two"',   # mixed slop / exact
    '"a b"~10 -x "c d"~0',          # slop 0 explicit
    'word~3 "tilde not on quote"',  # ~ on a bare token is literal text
    'lang:en "colon:inside stays literal" -source:x',
    '+lang:en bare -not +must q:v',  # signed qualifiers + ordinary clauses
    'a:b:c d',                       # value may itself contain a colon
    'x:1y:2',                        # greedy value eats the rest of token
    '-"excluded phrase" +"required one" "plain"',  # signed phrases
    'table - scan + x',              # lone signs are noise, not clauses
    '-"neg slop"~2 keep',            # negated sloppy phrase
]


class TestParserParity:
    """Both query-string routes parse with parse_query_string_py
    (distributed vs on the driver): percolating the indexed corpus itself
    against a string set returns exactly the (query, doc) pairs of top-k
    search with k >= |DOCS|, at the same scores."""

    def _assert_percolate_equals_topk(self, spark, tiny, meta, strings):
        import math

        idx, pos = tiny
        q = spark.createDataFrame(list(enumerate(strings)),
                                  "query_id long, content string")
        corpus = spark.createDataFrame(DOCS, "doc_id long, content string")
        fields = ("lang", "source", "stars")
        topk = {(r.query_id, r.doc_id): r.score for r in query_string_topk(
            idx, pos, q, k=len(DOCS), meta=meta,
            qualifier_fields=fields).collect()}
        perc = {(r.query_id, r.doc_id): r.score
                for r in query_string_percolate(
                    idx, q, corpus, meta=meta,
                    qualifier_fields=fields).collect()}
        assert set(perc) == set(topk) and topk
        for key, sc in topk.items():
            assert math.isclose(perc[key], sc, rel_tol=1e-5,
                                abs_tol=1e-5), (strings[key[0]], key)

    def test_fixture_set(self, spark, tiny, meta):
        self._assert_percolate_equals_topk(
            spark, tiny, meta, [s for _, s in QSTRING_SET])

    def test_adversarial(self, spark, tiny, meta):
        self._assert_percolate_equals_topk(spark, tiny, meta, ADVERSARIAL)

    def test_py_mirror_clauses(self):
        p = parse_query_string_py('a+b -row "fast query" +merge table')
        assert p["must"].split() == ["merge"]
        assert p["must_not"].split() == ["row"]
        assert p["phrases"] == ["fast query"]
        assert sorted(p["should"].split()) == ["a+b", "table"]

    def test_quotes_shield_markers(self):
        p = parse_query_string_py('"keep +this -that" other')
        assert p["phrases"] == ["keep +this -that"]
        assert p["must"] == "" and p["must_not"] == ""
        assert p["should"].split() == ["other"]

    def test_py_mirror_qualifiers(self):
        p = parse_query_string_py('+lang:en spark -source:x +must path:a/b')
        assert list(zip(p["qual_signs"], p["qual_fields"],
                        p["qual_values"])) == [
            ("+", "lang", "en"), ("-", "source", "x"), ("", "path", "a/b")]
        assert p["must"].split() == ["must"]
        assert p["should"].split() == ["spark"]
        assert p["must_not"] == ""

    def test_qualifiers_not_parsed_inside_quotes(self):
        p = parse_query_string_py('"lang:en stays" source:web')
        assert p["phrases"] == ["lang:en stays"]
        assert list(p["qual_fields"]) == ["source"]


DOCS = [
    (1, "fast query engine runs a fast scan"),
    (2, "query fast engine"),            # words but not the phrase
    (3, "slow table scan merge"),
    (4, "fast query merge table"),
    (5, "fast query merge table row"),   # excluded by -row
    (6, "merge fast query fast query"),  # phrase twice
]


@pytest.fixture(scope="module")
def tiny(spark):
    corpus = spark.createDataFrame(DOCS, "doc_id long, content string")
    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    pos = positional_postings(corpus)
    return idx, pos


def _topk_rows(spark, tiny, s, k=10):
    idx, pos = tiny
    q = spark.createDataFrame([(1, s)], "query_id long, content string")
    return query_string_topk(idx, pos, q, k=k, rank_round=6).collect()


def _run(spark, tiny, s, k=10):
    return [r.doc_id for r in _topk_rows(spark, tiny, s, k)]


class TestGates:
    def test_phrase_gates_and_not_excludes(self, spark, tiny):
        docs = _run(spark, tiny, '"fast query" +merge -row')
        assert set(docs) == {4, 6}  # phrase AND merge, minus doc 5 (row)

    def test_phrase_only(self, spark, tiny):
        docs = _run(spark, tiny, '"fast query"')
        assert set(docs) == {1, 4, 5, 6}  # not 2: words present, not adjacent

    def test_multi_phrase_conjunction(self, spark, tiny):
        docs = _run(spark, tiny, '"fast query" "table scan"')
        assert docs == []  # no doc holds both phrases

    def test_oov_phrase_empty(self, spark, tiny):
        assert _run(spark, tiny, '"zz yy" fast') == []

    def test_oov_must_empty(self, spark, tiny):
        assert _run(spark, tiny, "+zzmissing fast") == []

    def test_empty_query_empty(self, spark, tiny):
        assert _run(spark, tiny, "   ") == []

    def test_negated_phrase_excludes(self, spark, tiny):
        # '"fast query"' docs = {1,4,5,6}; negating it from a 'table'
        # query must return table docs WITHOUT the phrase
        docs = _run(spark, tiny, '-"fast query" table')
        assert set(docs) == {3}  # docs 4, 5 have table but also the phrase

    def test_negated_sloppy_phrase_excludes(self, spark, tiny):
        # '"query scan"~4' matches only doc 1 (span 5 ≤ 1+4)
        docs = _run(spark, tiny, '-"query scan"~4 fast')
        assert 1 not in docs and set(docs) == {2, 4, 5, 6}

    def test_negated_phrase_words_do_not_score(self, spark, tiny):
        # the negated phrase's words must not leak into scoring: result
        # scores equal the plain 'table' query's on the shared docs
        neg = {r.doc_id: round(r.score, 9) for r in _topk_rows(
            spark, tiny, '-"fast query" table')}
        plain = {r.doc_id: round(r.score, 9) for r in _topk_rows(
            spark, tiny, "table")}
        for d, s in neg.items():
            assert plain[d] == s

    def test_lone_signs_are_noise(self, spark, tiny):
        assert _run(spark, tiny, "fast - merge") == \
            _run(spark, tiny, "fast merge")
        # AND mode must not fabricate an unsatisfiable must term
        idx, pos = tiny
        q = spark.createDataFrame([(1, "table - scan")],
                                  "query_id long, content string")
        docs = [r.doc_id for r in query_string_topk(
            idx, pos, q, k=10, default_operator="and").collect()]
        assert set(docs) == {3}  # table AND scan

    # doc 1 = "fast query engine runs a fast scan": query@1 … scan@6 is an
    # ordered span of 5; budget for "query scan"~N is (m-1)+N = 1+N
    def test_slop_budget_boundary(self, spark, tiny):
        assert _run(spark, tiny, '"query scan"~3') == []   # 1+3 < 5
        assert _run(spark, tiny, '"query scan"~4') == [1]  # 1+4 = 5

    def test_slop_is_ordered_only(self, spark, tiny):
        # doc 2 = "query fast engine": both words, but no fast→query chain
        docs = _run(spark, tiny, '"fast query"~5')
        assert 2 not in docs
        assert {1, 4, 5, 6} <= set(docs)

    def test_slop_zero_equals_exact(self, spark, tiny):
        assert (_run(spark, tiny, '"fast query"~0')
                == _run(spark, tiny, '"fast query"'))

    def test_mixed_exact_and_sloppy_phrases(self, spark, tiny):
        docs = _run(spark, tiny, '"fast query"~2 "merge table"')
        assert set(docs) == {4, 5}


# doc_id → (lang, source, stars) metadata for the qualifier gates; bare
# "fast" matches docs {1, 2, 4, 5, 6}, so doc 2's stars sit exactly on
# the 100 boundary to split > from >=
META = [(1, "en", "a", 10), (2, "fr", "a", 100), (3, "en", "b", 50),
        (4, "en", "a", 200), (5, "fr", "b", 500), (6, "de", "a", 1000)]


@pytest.fixture(scope="module")
def meta(spark):
    return spark.createDataFrame(
        META, "doc_id long, lang string, source string, stars long")


def _runq(spark, tiny, meta, s, k=10):
    idx, pos = tiny
    q = spark.createDataFrame([(1, s)], "query_id long, content string")
    rows = query_string_topk(idx, pos, q, k=k, rank_round=6, meta=meta,
                             qualifier_fields=("lang", "source", "stars"),
                             ).collect()
    return [r.doc_id for r in rows]


class TestQualifierGates:
    def test_positive_filters(self, spark, tiny, meta):
        base = set(_runq(spark, tiny, meta, "fast"))
        assert set(_runq(spark, tiny, meta, "fast lang:en")) == \
            base & {1, 3, 4}
        assert set(_runq(spark, tiny, meta, "fast lang:en source:a")) == \
            base & {1, 4}

    def test_negated_filter(self, spark, tiny, meta):
        base = set(_runq(spark, tiny, meta, "fast"))
        assert set(_runq(spark, tiny, meta, "fast -source:b")) == \
            base - {3, 5}

    def test_plus_sign_equals_bare_qualifier(self, spark, tiny, meta):
        assert _runq(spark, tiny, meta, "fast +lang:en") == \
            _runq(spark, tiny, meta, "fast lang:en")

    def test_unknown_field_matches_nothing(self, spark, tiny, meta):
        assert _runq(spark, tiny, meta, "fast nofield:x") == []

    def test_contradictory_qualifiers_empty(self, spark, tiny, meta):
        assert _runq(spark, tiny, meta, "fast lang:en lang:fr") == []

    def test_qualifier_composes_with_phrase_and_not(self, spark, tiny,
                                                    meta):
        # exact phrase docs {1,4,5,6}, minus -row (doc 5), lang:en → {1,4}
        docs = _runq(spark, tiny, meta, '"fast query" -row lang:en')
        assert set(docs) == {1, 4}

    # bare "fast" matches {1,2,4,5,6}; stars by doc = 10/100/50/200/500/1000
    def test_numeric_gt_vs_ge(self, spark, tiny, meta):
        assert set(_runq(spark, tiny, meta, "fast stars:>100")) == {4, 5, 6}
        assert set(_runq(spark, tiny, meta, "fast stars:>=100")) == \
            {2, 4, 5, 6}

    def test_numeric_lt_and_range(self, spark, tiny, meta):
        assert set(_runq(spark, tiny, meta, "fast stars:<100")) == {1}
        assert set(_runq(spark, tiny, meta, "fast stars:50..200")) == {2, 4}

    def test_numeric_negated(self, spark, tiny, meta):
        assert set(_runq(spark, tiny, meta, "fast -stars:>100")) == {1, 2}

    def test_numeric_exact_equality_is_string(self, spark, tiny, meta):
        assert set(_runq(spark, tiny, meta, "fast stars:200")) == {4}

    def test_numeric_on_string_field_unsatisfied(self, spark, tiny, meta):
        assert _runq(spark, tiny, meta, "fast lang:>10") == []

    def test_qualifier_field_name_case_insensitive(self, spark, tiny,
                                                   meta):
        assert _runq(spark, tiny, meta, "fast Lang:en") == \
            _runq(spark, tiny, meta, "fast lang:en")

    def test_quals_without_meta_raise(self, spark, tiny):
        idx, pos = tiny
        q = spark.createDataFrame([(1, "fast lang:en")],
                                  "query_id long, content string")
        with pytest.raises(ValueError, match="qualifiers"):
            query_string_topk(idx, pos, q, k=5)

    def test_no_quals_ignores_missing_meta(self, spark, tiny):
        # a batch with no qualifiers must not require meta
        assert _run(spark, tiny, "fast")

    def test_gated_batch_leaves_nothing_persisted(self, spark, tiny, meta):
        """Every gate family in one batch; serving it must not leave a
        cached relation behind in the session (no hidden per-batch state)."""
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        rows = _runq(spark, tiny, meta,
                     '"fast query" +fa* scan -row lang:en stars:>=10')
        assert set(rows) == {1, 4}
        assert set(jsc.getPersistentRDDs().keys()) == before


class TestWildcards:
    """Trailing-star wildcards: vocab-bounded prefix expansion.  Tiny
    corpus vocabulary relevant here: fast, query, engine, runs, a, scan,
    merge, table, row, slow, sort."""

    def test_parser_splits_wildcards(self):
        p = parse_query_string_py('sc* +Me* -ta* "lit*eral" path:x* plain')
        assert list(zip(p["wild_signs"], p["wild_prefixes"])) == [
            ("", "sc"), ("+", "me"), ("-", "ta")]
        assert p["phrases"] == ["lit*eral"]     # '*' in quotes is literal
        assert p["qual_values"] == ["x*"]       # qualifier value keeps '*'
        assert p["should"].split() == ["plain"]

    def test_bare_wildcard_scores_expansions(self, spark, tiny):
        # 's*' expands to {scan, slow}: scores docs containing either,
        # gates nothing
        docs = _run(spark, tiny, "s*")
        assert set(docs) == {1, 3}

    def test_required_wildcard_gates(self, spark, tiny):
        # '+s*' requires ≥1 of {scan, slow, sort}: drops doc 2... and all
        # fast-docs lacking s-terms
        docs = _run(spark, tiny, "+ta* fast")
        # 'ta*' → {table}: docs with table AND (scoring fast/table)
        assert set(docs) == {3, 4, 5}

    def test_negated_wildcard_excludes(self, spark, tiny):
        docs = _run(spark, tiny, "fast -ta*")
        assert set(docs) == {1, 2, 6}  # table docs 4, 5 excluded

    def test_oov_required_wildcard_empty(self, spark, tiny):
        assert _run(spark, tiny, "+zz* fast") == []

    def test_oov_bare_wildcard_harmless(self, spark, tiny):
        assert set(_run(spark, tiny, "fast zz*")) == \
            set(_run(spark, tiny, "fast"))

    def test_and_mode_requires_bare_wildcard(self, spark, tiny):
        idx, pos = tiny
        q = spark.createDataFrame([(1, "fast ta*")],
                                  "query_id long, content string")
        docs = [r.doc_id for r in query_string_topk(
            idx, pos, q, k=10, rank_round=6,
            default_operator="and").collect()]
        assert set(docs) == {4, 5}  # fast AND any ta*-term

    def test_percolate_wildcards_match_topk(self, spark, tiny):
        idx, pos = tiny
        corpus = spark.createDataFrame(DOCS,
                                       "doc_id long, content string")
        s = "+ta* fast -row"
        standing = spark.createDataFrame(
            [(1, s)], "query_id long, content string")
        perc = {r.doc_id for r in query_string_percolate(
            idx, standing, corpus).collect()}
        assert perc == set(_run(spark, tiny, s, k=100))


class TestPercolate:
    """query_string_percolate — standing mini-language queries matched
    against a doc batch (docs carry their own metadata columns)."""

    @pytest.fixture(scope="class")
    def pdocs(self, spark):
        rows = [(d, c, lang, stars) for (d, c), (_, lang, _s, stars)
                in zip(DOCS, META)]
        return spark.createDataFrame(
            rows, "doc_id long, content string, lang string, stars long")

    def _perc(self, spark, tiny, pdocs, strings, **kw):
        idx, _ = tiny
        standing = spark.createDataFrame(
            list(enumerate(strings, 1)), "query_id long, content string")
        res = query_string_percolate(
            idx, standing, pdocs,
            qualifier_fields=("lang", "stars"), **kw).collect()
        out = {}
        for r in res:
            out.setdefault(r.query_id, set()).add(r.doc_id)
        return out

    def test_gate_families(self, spark, tiny, pdocs):
        got = self._perc(spark, tiny, pdocs, [
            "+fast merge",           # must fast → {1,2,4,5,6}
            '"fast query" -row',     # phrase minus row → {1,4,6}
            "merge lang:en stars:>100",   # qualifiers → {4}
            "+zzmissing fast",       # OOV must → nothing
            '"fast query"~5 scan',   # sloppy phrase (docs 1,4,5,6) ∪-scored
        ])
        assert got.get(1) == {1, 2, 4, 5, 6}
        assert got.get(2) == {1, 4, 6}
        assert got.get(3) == {4}
        assert 4 not in got
        assert got.get(5) == {1, 4, 5, 6}

    def test_and_mode(self, spark, tiny, pdocs):
        got = self._perc(spark, tiny, pdocs, ["fast merge"],
                         default_operator="and")
        assert got.get(1) == {4, 5, 6}

    def test_matches_topk_candidates(self, spark, tiny, pdocs):
        """For a phrase-free query, percolation's match set must equal the
        doc set query_string_topk retrieves (k large) on the same corpus
        — two routes, one semantics."""
        s = "+fast -row table"
        got = self._perc(spark, tiny, pdocs, [s])
        via_topk = set(_run(spark, tiny, s, k=100))
        assert got.get(1, set()) == via_topk

    def test_raw_token_must_matches_index_oov(self, spark, tiny):
        """A must term absent from the INDEX snapshot still gates docs
        that literally contain it (streamed docs can outrun the vocab)."""
        idx, _ = tiny
        newdocs = spark.createDataFrame(
            [(99, "brandnew fast term")], "doc_id long, content string")
        standing = spark.createDataFrame(
            [(1, "+brandnew fast")], "query_id long, content string")
        res = query_string_percolate(idx, standing, newdocs).collect()
        assert [(r.query_id, r.doc_id) for r in res] == [(1, 99)]

    def test_all_oov_standing_query_still_fires(self, spark, tiny):
        """A saved search for a term NEWER than the index snapshot must
        match a doc containing it — raw-token candidates, score 0."""
        idx, _ = tiny
        newdocs = spark.createDataFrame(
            [(99, "brandnew term here"), (100, "other text")],
            "doc_id long, content string")
        standing = spark.createDataFrame(
            [(1, "+brandnew")], "query_id long, content string")
        res = query_string_percolate(idx, standing, newdocs).collect()
        assert [(r.query_id, r.doc_id, r.n_matched, r.score)
                for r in res] == [(1, 99, 0, 0.0)]

    def test_negated_phrase_in_percolation(self, spark, tiny, pdocs):
        got = self._perc(spark, tiny, pdocs, ['-"fast query" table'])
        assert got.get(1) == {3}

    def test_quals_without_fields_raise(self, spark, tiny, pdocs):
        idx, _ = tiny
        standing = spark.createDataFrame(
            [(1, "fast lang:en")], "query_id long, content string")
        with pytest.raises(ValueError, match="qualifier_fields"):
            query_string_percolate(idx, standing, pdocs)


class TestDefaultOperator:
    def _and(self, spark, tiny, s, k=10):
        idx, pos = tiny
        q = spark.createDataFrame([(1, s)],
                                  "query_id long, content string")
        rows = query_string_topk(idx, pos, q, k=k, rank_round=6,
                                 default_operator="and").collect()
        return [(r.doc_id, round(r.score, 9)) for r in rows]

    def test_and_mode_requires_every_bare_term(self, spark, tiny):
        # OR mode: any doc with fast or merge; AND mode: both required
        or_docs = set(_run(spark, tiny, "fast merge"))
        and_docs = {d for d, _ in self._and(spark, tiny, "fast merge")}
        assert or_docs == {1, 2, 3, 4, 5, 6}
        assert and_docs == {4, 5, 6}

    def test_and_mode_equals_explicit_must(self, spark, tiny):
        assert self._and(spark, tiny, "fast merge") == \
            self._and(spark, tiny, "+fast +merge")

    def test_and_mode_phrase_words_not_musted(self, spark, tiny):
        # the phrase gates; its words must NOT each become a required
        # term beyond the gate (identical result sets here, but the
        # plan must not reject docs lacking... a doc containing the
        # phrase contains its words, so assert vs OR mode directly)
        a = self._and(spark, tiny, '"fast query"')
        b = [(r.doc_id, round(r.score, 9)) for r in
             (lambda idx, pos: query_string_topk(
                 idx, pos, spark.createDataFrame(
                     [(1, '"fast query"')],
                     "query_id long, content string"),
                 k=10, rank_round=6))(*tiny).collect()]
        assert a == b

    def test_bad_operator_rejected(self, spark, tiny):
        idx, pos = tiny
        q = spark.createDataFrame([(1, "x")],
                                  "query_id long, content string")
        with pytest.raises(ValueError, match="default_operator"):
            query_string_topk(idx, pos, q, default_operator="not")
        with pytest.raises(ValueError, match="default_operator"):
            query_string_percolate(idx, q, q, default_operator="AND")


class TestCompositionParity:
    def test_phrase_free_equals_boolean(self, spark, tiny):
        """A string with no phrases must reproduce boolean_topk exactly:
        same docs, same ranks, same scores."""
        idx, pos = tiny
        q = spark.createDataFrame(
            [(1, "+merge fast -row")], "query_id long, content string")
        via_qs = query_string_topk(idx, pos, q, k=10, rank_round=6)
        bq = spark.createDataFrame(
            [(1, "merge", "fast", "row")],
            "query_id long, must string, should string, must_not string")
        via_bool = boolean_topk(idx, bq, k=10, rank_round=6)
        a = [(r.query_id, r.rank, r.doc_id, round(r.score, 9))
             for r in via_qs.orderBy("rank").collect()]
        b = [(r.query_id, r.rank, r.doc_id, round(r.score, 9))
             for r in via_bool.orderBy("rank").collect()]
        assert a == b and a

    def test_phrase_scores_as_words(self, spark, tiny):
        """Phrase terms fold into scoring: '"fast query"' must score a
        matching doc identically to bare 'fast query' (gate differs,
        score does not)."""
        idx, pos = tiny
        qp = spark.createDataFrame(
            [(1, '"fast query"')], "query_id long, content string")
        qb = spark.createDataFrame(
            [(1, "fast query")], "query_id long, content string")
        sp = {r.doc_id: round(r.score, 9)
              for r in query_string_topk(idx, pos, qp, k=10).collect()}
        sb = {r.doc_id: round(r.score, 9)
              for r in query_string_topk(idx, pos, qb, k=10).collect()}
        assert sp  # gated subset is non-empty
        for d, s in sp.items():
            assert sb[d] == s


def _brute(s, default_operator="or"):
    """Brute-force query-string scorer over DOCS: BM25 (tests/oracle.py)
    over the scoring terms, then every gate checked on token lists."""
    from itertools import combinations

    from tests import oracle

    p = parse_query_string_py(s or "")
    toks = {d: c.lower().split() for d, c in DOCS}
    vocab = sorted({t for ts in toks.values() for t in ts})
    must, should = p["must"].split(), p["should"].split()
    nots = p["must_not"].split()
    signed = list(zip(p["phrase_signs"], p["phrases"], p["slops"]))
    pos_ph = [(ph.lower().split(), n) for sg, ph, n in signed if sg != "-"]
    neg_ph = [(ph.lower().split(), n) for sg, ph, n in signed if sg == "-"]
    ph_words = [w for ph, _ in pos_ph for w in ph]
    if default_operator == "and":
        must, should = must + should, ph_words
    else:
        should = should + ph_words
    groups = []
    for sg, pre in zip(p["wild_signs"], p["wild_prefixes"]):
        exp = [t for t in vocab if t.startswith(pre)]
        if sg == "-":
            nots += exp
            continue
        should += exp
        if sg == "+" or default_operator == "and":
            groups.append(set(exp))

    def has(ts, ph_slop):
        # ordered occurrence within a span of m-1+slop tokens
        ph, slop = ph_slop
        return any(c[-1] - c[0] <= len(ph) - 1 + slop
                   and [ts[i] for i in c] == ph
                   for c in combinations(range(len(ts)), len(ph)))

    scores = oracle.bm25_scores(dict(DOCS), " ".join(must + should))
    return {d: sc for d, sc in scores.items()
            if {w.lower() for w in must} <= set(toks[d])
            and not {w.lower() for w in nots} & set(toks[d])
            and all(has(toks[d], ph) for ph in pos_ph)
            and not any(has(toks[d], ph) for ph in neg_ph)
            and all(g & set(toks[d]) for g in groups)}


class TestFoldedGates:
    """Every gate folds into the one scoring aggregate (phrases and
    required wildcard groups as slot bits); each case is checked against
    the brute-force scorer above."""

    CASES = [
        ("fast fast", "or"),                    # repeated term: qtf 2
        ('-"fast query" +table', "or"),          # negated phrase + must
        ('"fast query"', "or"),                  # phrase-only query
        ('merge "fast query"', "and"),           # AND mode with a phrase
        ("+s* merge", "or"),                     # doc 3: scan AND slow, 1 group
        ("+scan +s*", "or"),                     # must term is an expansion
        ('+ta* "fast query" -row', "or"),        # group + phrase + not
        ('"fast query" "merge table"~1 s*', "or"),  # exact + sloppy slots
    ]

    def test_cases_match_brute_force(self, spark, tiny):
        import math

        idx, pos = tiny
        for s, op in self.CASES:
            q = spark.createDataFrame([(1, s)],
                                      "query_id long, content string")
            got = {r.doc_id: r.score for r in query_string_topk(
                idx, pos, q, k=100, rank_round=6,
                default_operator=op).collect()}
            want = _brute(s, op)
            assert set(got) == set(want), (s, op)
            for d, sc in want.items():
                assert math.isclose(got[d], sc, rel_tol=1e-5,
                                    abs_tol=1e-5), (s, d)

    def test_null_and_empty_content(self, spark, tiny):
        idx, pos = tiny
        q = spark.createDataFrame([(1, None), (2, ""), (3, "table")],
                                  "query_id long, content string")
        rows = query_string_topk(idx, pos, q, k=10).collect()
        assert {r.query_id for r in rows} == {3}
        assert query_string_topk(idx, pos, q.limit(0), k=10).collect() == []

    def test_slot_limit_raises(self, spark, tiny):
        from invertedfiles_jl_spark.operators.querystring import MAX_SLOTS

        idx, pos = tiny
        s = " ".join(['"fast query"'] * MAX_SLOTS + ["ta*"])
        q = spark.createDataFrame([(1, s)], "query_id long, content string")
        with pytest.raises(ValueError, match="slots"):
            query_string_topk(idx, pos, q, k=10)
        with pytest.raises(ValueError, match="slots"):
            query_string_percolate(idx, q, q)
        # exactly MAX_SLOTS slots: the wildcard group takes the top bit
        ok = " ".join(['"fast query"'] * (MAX_SLOTS - 1) + ["+fa*"])
        assert set(_run(spark, tiny, ok)) == {1, 4, 5, 6}

    def test_driver_flags_equal_sql_flags(self, spark):
        from invertedfiles_jl_spark.operators.querystring import (
            _clause_flags,
            _parse_batch,
            _parse_relation,
        )
        from invertedfiles_jl_spark.sources.queries import qstring_df

        q = qstring_df(spark)
        _, flags = _parse_batch(q, "content", "or")
        assert flags == _clause_flags(_parse_relation(q, "content"))
        assert flags["n_ph"] and flags["n_sloppy"] and flags["n_wild"]
