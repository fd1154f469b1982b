"""The fixed reference query set (FIXTURES.md F2).

Deterministic — mixes hot terms, the rare term ``dup``, a repeated-term
query (exercises qtf > 1), and one fully out-of-vocabulary query
(exercises the empty-Q early return, /root/reference/src/invfilesearch.jl:44).
Shared by tests and the __spark_entry__ rows and oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

QUERY_SET: list[tuple[int, str]] = [
    (1, "spark window merge"),
    (2, "dup customer"),
    (3, "hash join order"),
    (4, "the fast query table"),
    (5, "scan scan filter"),
    (6, "vector stream batch group"),
    (7, "dup"),
    (8, "big data slow row line"),
    (9, "key value column agg sort part small"),
    (10, "zzzunknown qqqmissing"),
]


def queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "query_id long, content string")


# Fixed phrase-query set (positional index / phrase search).  Deterministic
# mix: common bigram, duplicate-term bigram ("scan scan" — same term fills
# two phrase slots), two rare trigrams, a single-term phrase (ranking
# degenerates to tf), a bigram whose terms exist but are never adjacent
# (zero matches), and a fully out-of-vocabulary phrase.
PHRASE_SET: list[tuple[int, str]] = [
    (1, "fast query"),
    (2, "scan scan"),
    (3, "value table part"),
    (4, "spark window merge"),
    (5, "dup"),
    (6, "dup customer"),
    (7, "zzzunknown qqqmissing"),
]


def phrases_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(PHRASE_SET, "query_id long, content string")


# Fixed prefix-query set (wildcard search).  Mix: a hot two-char prefix, a
# mid prefix, an exact full term, a single char (widest expansion), and an
# out-of-vocabulary prefix (must yield zero rows).
PREFIX_SET: list[tuple[int, str]] = [
    (1, "sc"),
    (2, "val"),
    (3, "window"),
    (4, "q"),
    (5, "zzz"),
]


def prefixes_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(PREFIX_SET, "query_id long, prefix string")


# Fixed wildcard-query set (``*`` = any character run).  Mix: prefix-style,
# suffix-style, infix (star in the middle), multi-star, and an
# out-of-vocabulary pattern (must yield zero rows).
WILDCARD_SET: list[tuple[int, str]] = [
    (1, "sc*"),      # prefix-style
    (2, "*ue"),      # suffix: value, ...
    (3, "w*w"),      # infix: window
    (4, "s*a*"),     # multi-star: scan, spark, stream, ...
    (5, "zzz*"),     # OOV
]


def wildcards_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(WILDCARD_SET, "query_id long, pattern string")


# Fixed fuzzy-query set (edit-distance term search).  Mix: substitution and
# deletion typos of vocab terms, an exact term (distance 0 plus its
# neighborhood), and a far-OOV string (no neighborhood, zero rows).
FUZZY_SET: list[tuple[int, str]] = [
    (1, "scen"),     # scan (1 substitution)
    (2, "colum"),    # column (1 deletion)
    (3, "merge"),    # exact + 1-distance neighbors
    (4, "valu"),     # value (1 deletion)
    (5, "qqqqqq"),   # far OOV
]


def fuzzy_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(FUZZY_SET, "query_id long, qterm string")


# Fixed fielded-query set (BM25F over the derived north-rule corpus).  Mix:
# a path-universal token ('src', near-zero idf) with content terms, a
# path-extension token, a mid-rare path token with a content term, a
# doc-unique path token (file{doc_id}), and a fully OOV query.
FIELDED_SET: list[tuple[int, str]] = [
    (1, "src spark merge"),
    (2, "txt value"),
    (3, "mod7 scan"),
    (4, "file12"),
    (5, "zzzmissing"),
]


def fielded_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(FIELDED_SET, "query_id long, content string")


# Fixed regex-query set (whole-term regular-expression search).  Patterns
# stay inside the Java-regex ∩ RE2 common subset (literals, classes,
# quantifiers, alternation — no backrefs/lookaround) so Spark RLIKE and the
# DuckDB oracle agree.  Mix: single-wildcard, alternation of exact terms,
# suffix class, multi-quantifier, OOV.
REGEX_SET: list[tuple[int, str]] = [
    (1, "sc.n"),         # scan
    (2, "(merge|join)"),  # alternation of exact terms
    (3, "[a-z]*ue"),     # suffix: value, ...
    (4, "s.*a.*"),       # multi-quantifier: scan, spark, stream, ...
    (5, "zzz.*"),        # OOV
]


def regexes_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(REGEX_SET, "query_id long, pattern string")


# Fixed substring-query set (trigram index search).  Mix: an in-word
# fragment, a repeated-word cross-space phrase fragment, a word-boundary
# fragment, a two-word prefix fragment, and an out-of-vocabulary needle
# (an OOV trigram must short-circuit to zero rows pre-verification).
SUBSTRING_SET: list[tuple[int, str]] = [
    (1, "indow"),         # inside "window"
    (2, "batch batch"),   # repeated word across a space
    (3, "ge li"),         # "...merge line..." boundary
    (4, "spark wind"),    # cross-word prefix fragment
    (5, "zzznotthere"),   # OOV
]


def substrings_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(SUBSTRING_SET, "query_id long, needle string")


# Fixed synonym thesaurus (query-time expansion).  Mix: a symmetric pair
# (merge↔join), a full-weight mapping, a down-weighted mapping whose target
# is ALSO a direct query term in "scan scan filter" (exercises qw
# accumulation), a rare-term mapping, and a mapping to an out-of-vocabulary
# term (must contribute nothing — vocab inner join drops it).
SYNONYM_SET: list[tuple[str, str, float]] = [
    ("merge", "join", 0.8),
    ("join", "merge", 0.8),
    ("window", "table", 1.0),
    ("scan", "filter", 0.6),
    ("dup", "row", 0.5),
    ("customer", "zzznosuchterm", 0.9),
]


def synonyms_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(SYNONYM_SET, "term string, syn string, weight double")


def synonyms_values_sql() -> str:
    rows = ", ".join(f"('{t}', '{s}', CAST({w} AS DOUBLE))"
                     for t, s, w in SYNONYM_SET)
    return f"(VALUES {rows}) AS syn(term, syn, weight)"


# Fixed boolean-query set (must / should / must_not clauses).  Mix: must
# with should boosters, pure conjunction, should-only with an exclusion,
# an OOV must (zero rows by contract), and a hot-term exclusion.
BOOLEAN_SET: list[tuple[int, str, str, str]] = [
    (1, "scan", "window merge", ""),
    (2, "scan filter", "", ""),
    (3, "", "scan window", "merge"),
    (4, "zzzmissing", "scan", ""),
    (5, "value", "table", "the"),
]


def boolean_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        BOOLEAN_SET,
        "query_id long, must string, should string, must_not string")


def boolean_values_sql() -> str:
    rows = ", ".join(
        f"(CAST({qid} AS BIGINT), '{m}', '{s}', '{n}')"
        for qid, m, s, n in BOOLEAN_SET)
    return f"(VALUES {rows}) AS bq(query_id, must, should, must_not)"


# Query-string (Lucene QueryParser mini-language) fixture set: must /
# must_not / phrase / bare clauses, an OOV phrase (7), an OOV must (8), a
# parser-edge query (9: interior '+' is literal, clause markers bind only
# at token starts), sloppy phrases (10, 11), an explicit ~0 ≡ exact (12),
# metadata qualifiers (13-17: positive / negated / with-phrase /
# unknown-field / conjunctive multi-field), numeric qualifier forms
# (18-19) and trailing-star wildcards (20-23: bare / required / negated /
# OOV-required).  NOTE: double quotes only — these strings are inlined
# into single-quoted SQL literals by the oracle generator.
QSTRING_SET: list[tuple[int, str]] = [
    (1, '+spark window'),
    (2, 'dup -customer'),
    (3, '"fast query" table'),
    (4, '+table +scan filter'),
    (5, '"scan scan"'),
    (6, '-dup merge sort'),
    (7, '"zzzq yyqq" spark'),
    (8, '+zzzmissing spark'),
    (9, 'a+b -row "fast query" +merge table'),
    (10, '"sort merge"~2'),
    (11, '+filter "table scan"~3 -dup'),
    (12, '"fast query"~0 batch'),
    (13, 'spark window lang:en'),
    (14, '+merge sort -lang:en'),
    (15, '"fast query" source:src3'),
    (16, 'filter badfield:x'),
    (17, '+table scan lang:fr source:src1'),
    (18, 'spark n_chars:>450'),
    (19, 'merge lang:en n_chars:100..300'),
    (20, 'window sp*'),
    (21, '+sc* merge'),
    (22, 'merge -sp*'),
    (23, '+zz* fast'),
    (24, '-"fast query" table'),
    (25, 'merge -"table scan"~3'),
]


def qstring_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QSTRING_SET, "query_id long, content string")
