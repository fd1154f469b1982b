"""Engine configuration.

Mirrors the knobs of the reference's ``InvertedFileContext``
(/root/reference/src/InvertedFiles.jl:18-55 — minbatch / parallel_block /
per-thread containers) re-expressed as index-level knobs: tokenizer,
weighting scheme, hot-term salting and compression.  Shuffle partitions
are a session setting (``session.get_spark``), not part of the index.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class IndexConfig:
    """Configuration for an inverted-file build + query session.

    Attributes
    ----------
    tokenizer:
        ``"ws"`` — whitespace split (matches the driver's ``documents.text``
        fixture and is trivially DuckDB-oracle-expressible) or ``"code"`` —
        identifier/number/operator regex for source code (the north-rule
        corpus shape).
    lowercase:
        Lowercase tokens before counting.
    weighting:
        ``"bm25"`` (north rule), ``"normcosine"`` (reference parity —
        /root/reference/src/winvfile.jl:30 fixes the distance to
        ``Dist.NormCosine``), ``"binary"`` (BinaryInvertedFile,
        /root/reference/src/binvfile.jl:17-24 — weights dropped), or
        ``"tf"`` (raw term frequency — for scorers whose doc weight is not
        build-time foldable: LM Dirichlet, SMART lnc.ltc tf-idf).
    tol:
        Near-zero weight pruning threshold, applied at build and query
        like the reference (/root/reference/src/invfile.jl:152,
        /root/reference/src/invfilesearch.jl:36-38).
    bm25_k1 / bm25_b:
        Standard BM25 constants.
    salt_df_threshold:
        Terms with document frequency above this are split into
        ``salt_buckets`` doc-range-disjoint sub-lists to defuse Zipfian
        hot-term skew.  Range-disjoint (not hash) bucketing keeps each
        sub-list internally doc-sorted so concatenation in bucket order
        restores a globally sorted list and delta-gaps stay valid.
    salt_buckets:
        Number of sub-lists for hot terms.
    compress:
        Store posting doc_ids as delta-gap + varbyte ``binary`` instead of
        ``array<long>``.  The reference stores plain in-memory arrays with
        no compression (/root/reference/README.md:49); compression is a
        north-rule capability upgrade.
    """

    tokenizer: str = "ws"
    lowercase: bool = True
    weighting: str = "bm25"
    # "float" = reference parity (Float32 weights, src/idweight.jl:9);
    # "double" = bit-parity with float64 SQL oracles (driver correctness gate)
    weight_dtype: str = "float"
    tol: float = 1e-6
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    salt_df_threshold: int = 10_000
    salt_buckets: int = 16
    compress: bool = False
    # Posting lists carry per-block max weights (block-max WAND metadata):
    # block b covers entries [b·block_size, (b+1)·block_size) of the
    # doc-sorted list; the MaxScore kernel skips whole blocks whose upper
    # bound cannot reach the current top-k threshold.
    block_size: int = 128

    # Regex used by the "code" tokenizer: identifiers, numbers, and runs of
    # operator punctuation.  Shared verbatim with the DuckDB oracle SQL.
    CODE_TOKEN_RE = r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+|[^A-Za-z0-9_\s]"

    def token_pattern(self) -> str:
        if self.tokenizer == "code":
            return self.CODE_TOKEN_RE
        return r"\S+"
