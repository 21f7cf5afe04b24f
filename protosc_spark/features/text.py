"""Per-turn text feature extractors.

Each is the transcript analog of a reference extractor (SURVEY.md §2.3)
and obeys the same contract: fixed declared width, per-sample map, no
cross-row state (cross-row features come from windows.py, never here —
that separation is what makes leakage impossible in this layer).

JVM-expression extractors stay inside whole-stage codegen. The two
numpy-ish ones (char_hist, hashed_ngram) slice one fused Arrow-
vectorized pandas UDF (series -> series of arrays, never per-row
Python): Spark's higher-order functions run interpreted per element,
and a pure-JVM build of the same two histograms measured about 20x
slower at sf0.1.

Reference analogies:
* length_stats  — the scalar summaries protosc computes implicitly
* char_hist     — ColorFeatures histogram-density per channel
                  (reference protosc/feature_extraction/color.py:6-45)
* hashed_ngram  — FourierFeatures' fixed-width spectral signature
                  (reference protosc/feature_extraction/fourier_features.py:10-58)
* token_ids     — PixelFeatures' resize-and-flatten
                  (reference protosc/feature_extraction/pixel.py:7-47)
* role_onehot   — SetColorChannels-style channel projection
                  (reference protosc/feature_extraction/color_channels.py:6-41)
"""

from __future__ import annotations

from zlib import crc32

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from protosc_spark.extract import Extractor

ARR = T.ArrayType(T.DoubleType())

# ---------------------------------------------------------------------------
# length_stats: [n_chars, n_tokens, avg_token_len]  (pure JVM expressions)
# ---------------------------------------------------------------------------


def _length_stats(df: DataFrame) -> Column:
    n_tok = F.size(F.col("__tokens")).cast("double")
    n_chars = F.col("__n_chars")
    avg_tok = (n_chars - (n_tok - 1)) / n_tok
    return F.array(n_chars, n_tok, avg_tok)


length_stats = Extractor(
    name="length_stats",
    width=3,
    build=_length_stats,
    requires=("__tokens", "__n_chars"),
    feature_names=("n_chars", "n_tokens", "avg_token_len"),
)

# ---------------------------------------------------------------------------
# char_hist: density histogram of token lengths (ColorFeatures analog)
# ---------------------------------------------------------------------------

CHAR_HIST_BINS = 8
CHAR_HIST_RANGE = (0.0, 8.0)


def _token_lists(texts) -> list:
    return [t.split(" ") if t else [] for t in texts]


def token_length_hist_np(texts: np.ndarray) -> np.ndarray:
    """Shared by the Spark UDF and the pandas oracle: density histogram
    of token lengths per text (same semantics as np.histogram with
    bins=8, range=(0,8), density=True), fully vectorized across the
    batch: one flat bincount instead of a histogram call per row."""
    return _char_hist_from_tokens(_token_lists(texts))


def _char_hist_from_tokens(tok_lists: list) -> np.ndarray:
    n = len(tok_lists)
    lens_per_row = [[len(tok) for tok in v] for v in tok_lists]
    counts = np.fromiter((len(v) for v in lens_per_row), dtype=np.int64, count=n)
    if counts.sum() == 0:
        return np.zeros((n, CHAR_HIST_BINS))
    rows = np.repeat(np.arange(n), counts)
    vals = np.fromiter(
        (x for v in lens_per_row for x in v), dtype=np.float64, count=counts.sum()
    )
    lo, hi = CHAR_HIST_RANGE
    width = (hi - lo) / CHAR_HIST_BINS
    in_range = (vals >= lo) & (vals <= hi)
    bins = np.minimum(
        ((vals - lo) / width).astype(np.int64), CHAR_HIST_BINS - 1
    )  # right edge of the last bin is inclusive, like np.histogram
    flat = np.bincount(
        rows[in_range] * CHAR_HIST_BINS + bins[in_range],
        minlength=n * CHAR_HIST_BINS,
    ).reshape(n, CHAR_HIST_BINS)
    totals = flat.sum(axis=1, keepdims=True).astype(np.float64)
    totals[totals == 0] = 1.0  # empty rows -> all-zero histogram
    return flat / (totals * width)


def text_batch_np(texts: np.ndarray) -> np.ndarray:
    """Fused kernel: tokenize ONCE, emit char_hist ++ hashed_ngram
    (width 8+16). Both extractors slice the SAME UDF call below, which
    Spark's ExtractPythonUDFs dedups into one ArrowEvalPython node —
    one Arrow transfer of `text`, one tokenization pass, instead of two
    each (the extract stage is the flagship's dominant cost)."""
    tl = _token_lists(texts)
    return np.hstack([_char_hist_from_tokens(tl), _ngram_from_tokens(tl)])


@F.pandas_udf(ARR)
def _text_batch_udf(texts: pd.Series) -> pd.Series:
    m = text_batch_np(texts.fillna("").to_numpy())
    return pd.Series(list(m))


char_hist = Extractor(
    name="char_hist",
    width=CHAR_HIST_BINS,
    build=lambda df: F.slice(_text_batch_udf(F.col("text")), 1, CHAR_HIST_BINS),
)

# ---------------------------------------------------------------------------
# hashed_ngram: L1-normalized counts of hashed token uni+bigrams
# ---------------------------------------------------------------------------

NGRAM_BUCKETS = 16
_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 1099511628211
_MASK64 = (1 << 64) - 1


def _fnv1a(s: str) -> int:
    """FNV-1a 64-bit (wrap-around by design) — same arithmetic on
    driver, executor and oracle."""
    h = _FNV_OFFSET
    for b in s.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def hashed_ngram_np(texts: np.ndarray, buckets: int = NGRAM_BUCKETS) -> np.ndarray:
    """Gram bucket = crc32 (C-speed, platform-stable) — the hash choice
    is part of this engine's feature definition; the oracle shares this
    exact kernel.

    Batch-vectorized: all uni+bigrams of the batch go through ONE
    map(crc32) + ONE bincount instead of per-row numpy indexing (the
    extract stage is the flagship's hot loop; this kernel shape scales
    it ~2x better across executor counts)."""
    return _ngram_from_tokens(_token_lists(texts), buckets)


def _ngram_from_tokens(tok_lists: list, buckets: int = NGRAM_BUCKETS) -> np.ndarray:
    n = len(tok_lists)
    uni = [g.encode() for v in tok_lists for g in v]
    bi = [
        (a + " " + b).encode()
        for v in tok_lists
        for a, b in zip(v, v[1:])
    ]
    n_uni = np.fromiter((len(v) for v in tok_lists), dtype=np.int64, count=n)
    rows = np.concatenate(
        [
            np.repeat(np.arange(n), n_uni),
            np.repeat(np.arange(n), np.maximum(n_uni - 1, 0)),
        ]
    )
    grams = uni + bi
    if not grams:
        return np.zeros((n, buckets))
    h = np.fromiter(map(crc32, grams), dtype=np.int64, count=len(grams))
    flat = np.bincount(
        rows * buckets + h % buckets, minlength=n * buckets
    ).reshape(n, buckets)
    totals = flat.sum(axis=1, keepdims=True).astype(np.float64)
    totals[totals == 0] = 1.0
    return flat / totals


hashed_ngram = Extractor(
    name="hashed_ngram",
    width=NGRAM_BUCKETS,
    build=lambda df: F.slice(
        _text_batch_udf(F.col("text")), CHAR_HIST_BINS + 1, NGRAM_BUCKETS
    ),
)

# ---------------------------------------------------------------------------
# token_ids: first K token ids, scaled; padded with -1 (PixelFeatures analog)
# ---------------------------------------------------------------------------

TOKEN_IDS_K = 8
TOKEN_ID_SCALE = 1000.0


def _token_ids(df: DataFrame) -> Column:
    ids = F.transform(
        F.slice(F.col("__tokens"), 1, TOKEN_IDS_K),
        lambda x: F.coalesce(
            F.regexp_extract(x, r"(\d+)", 1).try_cast("double"), F.lit(-1.0)
        )
        / F.lit(TOKEN_ID_SCALE),
    )
    padded = F.concat(
        ids, F.array_repeat(F.lit(-1.0 / TOKEN_ID_SCALE), TOKEN_IDS_K)
    )
    return F.slice(padded, 1, TOKEN_IDS_K)


token_ids = Extractor(
    name="token_ids",
    width=TOKEN_IDS_K,
    build=_token_ids,
    requires=("__tokens",),
)

# ---------------------------------------------------------------------------
# role_onehot: role + tool indicator block (projection analog)
# ---------------------------------------------------------------------------

ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "exec", "read", "write")


def _role_onehot(df: DataFrame) -> Column:
    cols = [
        (F.col("role") == r).cast("double") for r in ROLES
    ] + [
        (F.col("tool") == t).cast("double") for t in TOOLS
    ] + [F.col("tool").isNotNull().cast("double")]
    # tool equality on null yields null -> coalesce to 0
    cols = [F.coalesce(c, F.lit(0.0)) for c in cols]
    return F.array(*cols)


role_onehot = Extractor(
    name="role_onehot",
    width=len(ROLES) + len(TOOLS) + 1,
    build=_role_onehot,
    feature_names=tuple(f"role_{r}" for r in ROLES)
    + tuple(f"tool_{t}" for t in TOOLS)
    + ("has_tool",),
)


def default_text_extractors() -> list[Extractor]:
    return [length_stats, char_hist, hashed_ngram, token_ids, role_onehot]
