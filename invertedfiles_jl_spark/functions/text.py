"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All default paths are pure Column expressions (whole-stage codegen; DuckDB-
expressible for the driver oracles).  The rolling-hash fingerprint is the
one numpy/pandas-UDF member (content-defined chunk fingerprints are not
expressible as built-ins) and carries a rows-only correctness check.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.functions.tokenize import tokens_sql

# Deterministic marker lists (synthetic-corpus scale model of stopword-based
# language ID; real deployments swap in real stopword tables).
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "los"],
    "fr": ["le", "les", "des", "une"],
    "de": ["der", "die", "das", "und"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to"]


def _arr_lit(values: list[str]) -> str:
    inner = ", ".join(f"'{v}'" for v in values)
    return f"array({inner})"


def pred_lang_col(t: str) -> F.Column:
    """Predicted-language Column for token-array expression ``t``: argmax
    over marker-token hit counts, ties by language name, 'und' when no
    marker hits.  Exposed so composition operators (``operators.curation``)
    can evaluate the gate in the same scan as their other gates."""
    langs = sorted(LANG_MARKERS)
    hits = {
        lang: F.expr(f"size(array_intersect({t}, {_arr_lit(LANG_MARKERS[lang])}))")
        for lang in langs
    }
    # argmax via greatest + chained when (deterministic tie-break: lang asc)
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return pred


def lang_id(df: DataFrame, cfg: IndexConfig | None = None,
            doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(doc_id, pred_lang) — argmax over marker-token hit counts, ties by
    language name, 'und' when no marker hits."""
    cfg = cfg or IndexConfig()
    t = tokens_sql(content_col, cfg)
    return df.select(F.col(doc_col).alias("doc_id"),
                     pred_lang_col(t).alias("pred_lang"))


def token_stats(df: DataFrame, cfg: IndexConfig | None = None,
                doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, mean_token_len) — whitespace tokens."""
    cfg = cfg or IndexConfig()
    t = tokens_sql(content_col, cfg)
    return df.select(
        F.col(doc_col).alias("doc_id"),
        F.expr(f"size({t})").cast("long").alias("n_tokens"),
        F.expr(f"size(array_distinct({t}))").cast("long").alias("n_distinct"),
        F.round(
            F.expr(f"aggregate({t}, 0L, (acc, x) -> acc + length(x))")
            / F.greatest(F.expr(f"size({t})"), F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, cfg: IndexConfig | None = None,
                  doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(doc_id, stopword_ratio, distinct_ratio, quality) — a deterministic
    heuristic: length-normalized stopword share + vocabulary diversity.
    quality = 0.5·min(n_tokens/100, 1) + 0.3·distinct_ratio + 0.2·(1 − |stop_ratio − 0.4|)."""
    cfg = cfg or IndexConfig()
    t = tokens_sql(content_col, cfg)
    stop_ratio, distinct_ratio, quality = quality_cols(t)
    return df.select(
        F.col(doc_col).alias("doc_id"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def quality_cols(t: str) -> tuple[F.Column, F.Column, F.Column]:
    """(stop_ratio, distinct_ratio, quality) Columns for token-array
    expression ``t`` — the raw (un-rounded) gate inputs, shared between
    :func:`quality_score` and composition operators."""
    n = F.expr(f"size({t})")
    stops = F.expr(
        f"size(filter({t}, x -> array_contains({_arr_lit(STOPWORDS)}, x)))"
    )
    distinct = F.expr(f"size(array_distinct({t}))")
    stop_ratio = stops / F.greatest(n, F.lit(1))
    distinct_ratio = distinct / F.greatest(n, F.lit(1))
    quality = (
        0.5 * F.least(n / F.lit(100.0), F.lit(1.0))
        + 0.3 * distinct_ratio
        + 0.2 * (1.0 - F.abs(stop_ratio - 0.4))
    )
    return stop_ratio, distinct_ratio, quality


def fingerprint(df: DataFrame, cfg: IndexConfig | None = None,
                doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(doc_id, fp) — md5 of the whitespace-normalized lowercased token
    stream: a canonical content fingerprint stable under whitespace noise."""
    cfg = cfg or IndexConfig()
    t = tokens_sql(content_col, cfg)
    return df.select(
        F.col(doc_col).alias("doc_id"),
        F.md5(F.expr(f"concat_ws(' ', {t})")).alias("fp"),
    )


ROLLING_MOD = (1 << 31) - 1   # Mersenne prime < 2^31 ⇒ every intermediate
ROLLING_BASE = 257            # product fits int64 — fully numpy-vectorizable


def _pow_table(n: int, base: int, mod: int):
    """pw[k] = base^k % mod for k < n — O(log n) doubling, vectorized."""
    import numpy as np

    pw = np.empty(max(n, 1), dtype=np.int64)
    pw[0] = 1
    m = 1
    while m < n:
        t = min(m, n - m)
        step = int(pw[m - 1] * base % mod)          # base^m
        pw[m:m + t] = pw[:t] * step % mod           # products < 2^62
        m *= 2
    return pw


def rolling_fingerprint(df: DataFrame, window: int = 16, mod: int = ROLLING_MOD,
                        base: int = ROLLING_BASE, doc_col: str = "doc_id",
                        content_col: str = "content") -> DataFrame:
    """(doc_id, chunk_idx, chunk_hash) — Karp–Rabin rolling hash over code
    points with content-defined chunk boundaries (window hash % 64 == 0 cuts
    after the window), then a polynomial hash per chunk.  The CDC primitive
    of dedup pipelines (shift-resistant chunk fingerprints).

    Vectorization: code points via utf-32 reinterpretation, window hashes as
    one int64 matmul over a sliding view, chunk hashes as modded dot
    products against a doubling-built power table — no object dtype, no
    per-character Python.  mod < 2^31 keeps every product below 2^52 and
    every sum below 2^63 (docs < 2^11 chars would even tolerate raw sums).
    Docs shorter than the window yield one whole-doc chunk; empty docs none.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _chunks(texts: pd.Series) -> pd.Series:
        wpow = np.array([pow(base, window - 1 - j, mod) for j in range(window)],
                        dtype=np.int64)
        out = []
        for s in texts.fillna(""):
            c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            n = len(c)
            if n == 0:
                out.append([])
                continue
            if n >= window:
                win = np.lib.stride_tricks.sliding_window_view(c, window)
                hashes = (win @ wpow) % mod
                cuts = np.flatnonzero(hashes % 64 == 0)
                bounds = np.unique(np.concatenate(([0], cuts + window, [n])))
            else:
                bounds = np.array([0, n])
            pw = _pow_table(n, base, mod)
            chunks = []
            for i in range(len(bounds) - 1):
                l, r = int(bounds[i]), int(bounds[i + 1])
                seg = c[l:r] * pw[r - l - 1::-1] % mod
                chunks.append(int(seg.sum() % mod))
            out.append(chunks)
        return pd.Series(out)

    res = df.select(F.col(doc_col).alias("doc_id"),
                    _chunks(F.col(content_col)).alias("chunk_hashes"))
    return res.select(
        "doc_id", F.posexplode("chunk_hashes").alias("chunk_idx", "chunk_hash")
    ).select("doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk_hash")


def doc_keywords(corpus, cfg=None, n: int = 5, rank_round: int | None = None,
                 doc_col: str = "doc_id", content_col: str = "content"):
    """Per-document TF-IDF keyword extraction: the top-``n`` terms per doc
    by ``tf · ln(1 + (N − df + 0.5)/(df + 0.5))`` (the engine's BM25 idf),
    tie-break term asc.  The summarization primitive of a curation
    pipeline (doc tagging, cluster labeling, topic drift monitoring).

    One tf pass (the build's doc-clustered aggregation, zero exploded-token
    exchange) + one df aggregation; N joins in as a broadcast 1-row agg —
    no driver action.  ``rank_round`` ranks on round(tfidf, n) for
    oracle-stable ordering (same contract as search.topk)."""
    from invertedfiles_jl_spark.operators.build import doc_term_freqs
    from invertedfiles_jl_spark.operators.search import bm25_idf, knn_order, rank_cut

    cfg = cfg or IndexConfig()
    tf = doc_term_freqs(corpus, cfg, doc_col, content_col)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("tfidf", F.expr(f"tf * {bm25_idf('n_docs')}"))
    )
    return rank_cut(scored, n, knn_order("tfidf", rank_round, id_col="term"),
                    by=("doc_id",), cols=["doc_id", "rank", "term", "tfidf"])


def lm_perplexity(df: DataFrame, cfg: IndexConfig | None = None,
                  doc_col: str = "doc_id", content_col: str = "content",
                  alpha: float = 0.5, ppl_round: int = 4,
                  train_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_tokens, ppl) — corpus-trained unigram-LM perplexity, the
    CCNet-style fluency signal training-data pipelines filter on (docs far
    from the corpus distribution score high).

    Model: add-``alpha`` smoothed unigram probabilities from the corpus's
    own token counts, ``p(w) = (c(w)+α) / (N + α·(V+1))`` (the +1 reserves
    unseen mass so the model also scores held-out text); per-doc score =
    ``exp(-Σ tf·ln p(w) / n_tokens)``.

    Scale shape: training is one partial+final term count (V rows out,
    corpus-size in); scoring joins each doc's DISTINCT terms against the
    broadcast probability table and does one per-doc aggregation — no
    per-token rows survive the first groupBy.  At 100 TB the broadcast
    stays bounded by pruning the vocabulary to min-count terms upstream
    (rare terms then fall into the smoothed floor, which is exactly the
    model's unseen estimate).  ``ppl`` is rounded (default 4 dp) because
    the log-sum's float addition order differs across engines.

    ``train_df`` separates model fitting from scoring — the held-out
    workflow (fit on the trusted corpus, filter NEW data by how far it
    sits from that distribution).  Tokens absent from the training counts
    score the smoothed unseen probability ``α / (N + α·(V+1))``.  Default
    (None) trains on ``df`` itself.
    """
    cfg = cfg or IndexConfig()
    t = tokens_sql(content_col, cfg)
    occ = df.select(F.col(doc_col).alias("doc_id"),
                    F.explode(F.expr(t)).alias("term"))
    tocc = (occ if train_df is None
            else train_df.select(F.col(doc_col).alias("doc_id"),
                                 F.explode(F.expr(t)).alias("term")))
    counts = tocc.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").cast("double").alias("n"),
                     F.count(F.lit(1)).cast("double").alias("v"))
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        ((F.col("c") + F.lit(alpha))
         / (F.col("n") + F.lit(alpha) * (F.col("v") + 1.0))).alias("p"),
    )
    floor = tot.select(
        (F.lit(alpha) / (F.col("n") + F.lit(alpha) * (F.col("v") + 1.0))
         ).alias("p_unseen"))
    dt = occ.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    agg = (
        dt.join(F.broadcast(probs), "term", "left")
        .crossJoin(F.broadcast(floor))
        .withColumn("p", F.coalesce(F.col("p"), F.col("p_unseen")))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (-F.sum(F.col("tf") * F.log("p")) / F.sum("tf")).alias("h"),
        )
    )
    return agg.select("doc_id", "n_tokens",
                      F.round(F.exp("h"), ppl_round).alias("ppl"))


# PII patterns: deliberately simple, RE2-and-Java-compatible (no lookaround)
# so Spark and the DuckDB oracle compile the SAME regex text.
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "hexsecret": r"\b[0-9a-f]{32,}\b",
}


def scrub_pii(df: DataFrame, doc_col: str = "doc_id",
              content_col: str = "content",
              preserve_schema: bool = False) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_hexsecret, redacted) — count and redact
    the standard PII classes (each match replaced by ``<CLASS>``), the
    compliance pass every shipped training corpus runs.

    Map-only: counts via ``regexp_extract_all`` size, redaction via chained
    ``regexp_replace`` — one scan, whole-stage codegen, no shuffle at any
    scale.  Patterns avoid lookaround so the identical regex text runs in
    Java (Spark) and RE2 (DuckDB oracle).  Redaction order is the fixed
    dict order (email → ipv4 → hexsecret); counts are measured on the
    ORIGINAL text, before any replacement.

    ``preserve_schema=True`` instead returns the FULL input schema with
    ``content_col`` replaced in place by the redacted text plus the
    ``n_*`` count columns appended — still one map-only select (no join),
    for write-back pipelines that must keep metadata columns.  An input
    that already carries all three ``n_*`` columns (a prior scrub) has
    them replaced; one that carries only some of them raises
    ``ValueError``, since they cannot be scrub output.
    """
    count_cols = [F.size(F.regexp_extract_all(
        F.col(content_col), F.lit(pat), F.lit(0))).cast("long")
        .alias(f"n_{name}") for name, pat in PII_PATTERNS.items()]
    red = F.col(content_col)
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    if preserve_schema:
        # drop a prior scrub's n_* count columns so the appended counts
        # never collide (a partial set is not a prior scrub's: refuse it)
        count_names = {f"n_{name}" for name in PII_PATTERNS}
        present = count_names & set(df.columns)
        if present and present != count_names:
            raise ValueError(
                "scrub_pii(preserve_schema=True): input carries "
                f"{sorted(present)} but not {sorted(count_names - present)}"
                " — only a complete prior-scrub count set is replaced")
        keep = [red.alias(c) if c == content_col else F.col(c)
                for c in df.columns if c not in count_names]
        return df.select(*keep, *count_cols)
    return df.select(F.col(doc_col).alias("doc_id"), *count_cols,
                     red.alias("redacted"))


def repetition_stats(df: DataFrame, cfg: IndexConfig | None = None,
                     doc_col: str = "doc_id",
                     content_col: str = "content") -> DataFrame:
    """(doc_id, top_word_frac, top_bigram_frac, top_trigram_frac) — the
    Gopher-style repetition signals (fraction of the token stream consumed
    by the single most frequent word / bigram / trigram); degenerate
    machine-generated text spikes these long before perplexity moves.

    One tokenize + three n-gram aggregations per doc, each the standard
    explode → per-(doc, gram) count → per-doc max/sum shape — linear in
    tokens with map-side combine (never the quadratic per-row
    distinct×filter scan), then three doc-keyed joins of aggregated (small)
    relations.  A doc with fewer tokens than the n-gram order reports 0
    for that order.
    """
    cfg = cfg or IndexConfig()
    # Materialize the token array ONCE per doc: Spark does not hoist
    # loop-invariant subexpressions out of HOF lambdas, so embedding the
    # tokenizer as `(tokenize(content))[i+j]` inside transform() would
    # re-tokenize per n-gram element — O(tokens × tokenize) per doc.
    toked = df.select(F.col(doc_col).alias("doc_id"),
                      F.expr(tokens_sql(content_col, cfg)).alias("__toks"))

    def gram_expr(n: int) -> str:
        if n == 1:
            return "__toks"
        concat = ", ' ', ".join(f"__toks[i+{j}]" for j in range(n))
        # sequence(0, -1) counts DOWN in Spark — guard short docs explicitly
        return (f"CASE WHEN size(__toks) >= {n} THEN "
                f"transform(sequence(0, size(__toks) - {n}), "
                f"i -> concat({concat})) ELSE array() END")

    base = toked.select("doc_id")
    for n, name in ((1, "top_word_frac"), (2, "top_bigram_frac"),
                    (3, "top_trigram_frac")):
        g = toked.select("doc_id",
                         F.explode(F.expr(gram_expr(n))).alias("g"))
        per = (g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
               .groupBy("doc_id")
               .agg((F.max("c").cast("double") / F.sum("c")).alias("f")))
        base = base.join(per, "doc_id", "left").withColumn(
            name, F.round(F.coalesce(F.col("f"), F.lit(0.0)), 6)).drop("f")
    return base
