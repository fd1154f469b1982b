"""Tokenization — the ingest stage the reference does NOT have.

The reference consumes pre-vectorized sparse data via ``sparseiterator``
(/root/reference/src/invfile.jl:53-80); tokenization of raw content is this
engine's addition per the north rule (source-code corpus with a ``content``
column).

Hot path is 100% JVM: ``split`` / ``regexp_extract_all`` / ``transform`` /
``filter`` stay inside whole-stage codegen — strictly faster than any Python
UDF, vectorized or not.  A pandas-UDF code tokenizer is provided for
per-language rules the regex can't express; it is NOT the default.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig


def tokens_sql(content_sql: str, cfg: IndexConfig) -> str:
    """Spark-SQL expression string for the token array of ``content_sql``.

    Using an expression string keeps one definition usable from both the
    DataFrame API (``F.expr``) and ``spark.sql``.

    Lowercasing is applied to the WHOLE string before splitting (one
    ``lower`` call per document instead of a per-token ``transform`` lambda
    — higher-order functions are CodegenFallback in Spark and would drop the
    surrounding operator out of whole-stage codegen; identical output, since
    lowercasing preserves whitespace and the code regex's character
    classes).  The whitespace split drops its empty tokens with
    ``array_remove`` rather than a ``filter`` lambda, for the same reason.
    """
    if cfg.lowercase:
        content_sql = f"lower({content_sql})"
    if cfg.tokenizer == "code":
        pat = IndexConfig.CODE_TOKEN_RE.replace("\\", "\\\\")
        return f"regexp_extract_all({content_sql}, '{pat}', 0)"
    return f"array_remove(split({content_sql}, '\\\\s+'), '')"


def exploded_terms(df, doc_out: str, doc_col: str, content_col: str,
                   cfg: IndexConfig, keep: tuple[str, ...] = ()):
    """(doc_out, *keep, term) rows — the 100%-codegen tokenize hot path;
    ``keep`` columns of ``df`` ride along on every token row.

    ``explode(split(lower(content)))`` + a row-level empty filter keeps the
    whole stage inside WholeStageCodegen: no higher-order-function lambdas
    (ArrayTransform/ArrayFilter are interpreted ``CodegenFallback``
    expressions and stall a 32-thread local build on allocation + ICU
    per-token lowercasing).  Produces exactly the tokens of
    ``tokens_sql`` row-by-row.
    """
    content = f"lower({content_col})" if cfg.lowercase else content_col
    if cfg.tokenizer == "code":
        pat = IndexConfig.CODE_TOKEN_RE.replace("\\", "\\\\")
        arr = f"regexp_extract_all({content}, '{pat}', 0)"
        out = df.select(
            F.col(doc_col).alias(doc_out), *keep,
            F.explode(F.expr(arr)).alias("term"),
        )
        return out  # the regex never matches the empty string
    arr = f"split({content}, '\\\\s+')"
    return df.select(
        F.col(doc_col).alias(doc_out), *keep,
        F.explode(F.expr(arr)).alias("term"),
    ).filter(F.col("term") != "")


def tokenize(df, content_col: str, cfg: IndexConfig, out_col: str = "tokens"):
    """Add a ``tokens`` array column (JVM-side)."""
    return df.withColumn(out_col, F.expr(tokens_sql(content_col, cfg)))


def duckdb_tokens_sql(content_sql: str, cfg: IndexConfig) -> str:
    """The SAME tokenization as DuckDB SQL, for oracle parity.

    Both engines use re2-style regex classes here, so the pattern string is
    shared verbatim.
    """
    if cfg.lowercase:
        content_sql = f"lower({content_sql})"
    if cfg.tokenizer == "code":
        return f"regexp_extract_all({content_sql}, '{IndexConfig.CODE_TOKEN_RE}')"
    return f"list_filter(string_split_regex({content_sql}, '\\s+'), t -> t != '')"


# ---------------------------------------------------------------------------
# Optional pandas-UDF tokenizer (per-language rules).  Arrow-batched — no
# per-row Python (input_hint mandate).  Kept off the default path because the
# JVM regex above is faster; exists so per-lang behavior (e.g. stripping
# string literals per language) has a home.
# ---------------------------------------------------------------------------

import re

_CODE_RE = re.compile(IndexConfig.CODE_TOKEN_RE)


def code_tokens_udf():
    """Arrow-batched code tokenizer (built lazily — pandas_udf needs an
    active SparkSession to parse its return type).

    This module uses ``from __future__ import annotations``, which turns
    inline hints into strings pandas_udf cannot resolve — so the real type
    objects are attached via ``__annotations__`` instead.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tok(content):
        return content.fillna("").map(lambda s: _CODE_RE.findall(s.lower()))

    _tok.__annotations__ = {"content": pd.Series, "return": pd.Series}
    return pandas_udf(_tok, "array<string>")


# ---------------------------------------------------------------------------
# Identifier subtoken normalization (symbol search) — code-payload analyzer:
# camelCase / PascalCase / snake_case identifiers split into their subtokens
# so "read file" retrieves readFile, ReadFile and read_file.  Two regex
# rules (the classic Lucene WordDelimiterFilter core):
#   1. lower-or-digit → Upper boundary          fooBar   → foo Bar
#   2. CAPS-run → Cap+lower boundary            HTTPServer → HTTP Server
# then underscores become spaces and the result is lowercased.  All three
# rewrites are plain regexp_replace — JVM-side, inside codegen, and
# expressible verbatim in DuckDB for oracle parity (only the backreference
# spelling differs: Spark `$1`, DuckDB `\1`).
# ---------------------------------------------------------------------------

_SYM_RULE1 = r"([a-z0-9])([A-Z])"
_SYM_RULE2 = r"([A-Z]+)([A-Z][a-z])"


def symbol_normalize_sql(content_sql: str) -> str:
    """Spark-SQL expression: subtoken-normalized, lowercased content."""
    r1 = f"regexp_replace({content_sql}, '{_SYM_RULE1}', '$1 $2')"
    r2 = f"regexp_replace({r1}, '{_SYM_RULE2}', '$1 $2')"
    return f"lower(replace({r2}, '_', ' '))"


def duckdb_symbol_normalize_sql(content_sql: str) -> str:
    """The same normalization as DuckDB SQL ('g' = global, like Spark's
    default)."""
    r1 = f"regexp_replace({content_sql}, '{_SYM_RULE1}', '\\1 \\2', 'g')"
    r2 = f"regexp_replace({r1}, '{_SYM_RULE2}', '\\1 \\2', 'g')"
    return f"lower(replace({r2}, '_', ' '))"
