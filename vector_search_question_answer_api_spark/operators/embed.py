"""U1: the text->vector embedder seam (SURVEY.md §2.10).

The reference embeds with sentence-transformers
(services/embedding_service.py:7-19) loaded once per process and called in
one giant batch over the whole corpus (services/index_service.py:64) — its
single biggest scalability ceiling.  Here embedding is a scalar
``pandas_udf``: Arrow-batched, data-parallel across executors, with the
model held as a lazy per-worker singleton.  Single-query and whole-corpus
embedding collapse into the same operator (V1/V2).

Two implementations behind one seam:

- ``HashingEmbedder`` — deterministic, dependency-free: each token maps to a
  pseudo-random Gaussian vector seeded from its MD5; a document embeds as
  the L2-normalized sum of its token vectors.  This is the test/CI embedder
  (SURVEY.md §5 requires deterministic correctness gates) and follows the
  classic "hashing trick" / random-projection construction (Achlioptas 2003).
  Token vectors are memoized once per process and ``dim``, i.e. per Python
  worker on the executors (``_token_cache``).
- ``SentenceTransformerEmbedder`` — the production seam, gated behind an
  import-try since the model stack is not in this container.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EMBED_RETURN_TYPE = T.ArrayType(T.FloatType())


def _token_seed(token: str) -> int:
    """Stable 32-bit seed from a token (first 8 md5 hex chars)."""
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16)


_TOKEN_MEMO_BYTES = 32 << 20  # float64 vector bytes per dim per process


class _TokenVectorCache:
    """Memo of token -> Gaussian vector for one ``dim``.

    One instance per ``dim`` lives for the whole process (``_token_cache``),
    so on an executor it is a per-worker memo that survives across Arrow
    batches and tasks: Python workers are reused, and the embed UDF pickles
    ``hashing_embed_numpy`` by module.  A vector is a pure function of
    ``(token, dim)``, so sharing the memo cannot change an embedding.  It
    holds at most ``_TOKEN_MEMO_BYTES`` of vectors; once full, misses are
    computed and not inserted."""

    def __init__(self, dim: int):
        self.dim = dim
        self._cap = max(1, _TOKEN_MEMO_BYTES // (dim * 8))
        self._cache: dict[str, np.ndarray] = {}

    def get(self, token: str) -> np.ndarray:
        v = self._cache.get(token)
        if v is None:
            rng = np.random.RandomState(_token_seed(token))
            v = rng.standard_normal(self.dim).astype(np.float64)
            v.flags.writeable = False
            if len(self._cache) < self._cap:
                self._cache[token] = v
        return v


_TOKEN_CACHES: dict[int, _TokenVectorCache] = {}


def _token_cache(dim: int) -> _TokenVectorCache:
    cache = _TOKEN_CACHES.get(dim)
    if cache is None:
        cache = _TOKEN_CACHES.setdefault(dim, _TokenVectorCache(dim))
    return cache


def hashing_embed_numpy(texts: list[str | None], dim: int = 64) -> np.ndarray:
    """Embed a list of texts: the body of ``HashingEmbedder``'s UDF, also
    called driver-side by the inventory reference and tests.

    Tokenization is whitespace split of the (already preprocessed) text —
    mirrors the reference feeding ``preprocess_description`` output straight
    to ``model.encode`` (services/index_service.py:63-64).
    """
    cache = _token_cache(dim)
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, text in enumerate(texts):
        if not text:
            continue
        toks = text.split()
        if not toks:
            continue
        acc = np.zeros(dim, dtype=np.float64)
        for t in toks:
            acc += cache.get(t)
        n = float(np.linalg.norm(acc))
        if n > 0:
            acc /= n
        out[i] = acc
    return out.astype(np.float32)


@dataclass(frozen=True)
class HashingEmbedder:
    """Deterministic hashing-projection embedder (the U1 test double)."""

    dim: int = 64

    def udf(self):
        dim = self.dim

        @F.pandas_udf(_EMBED_RETURN_TYPE)
        def embed(texts: pd.Series) -> pd.Series:
            mat = hashing_embed_numpy(texts.tolist(), dim)
            return pd.Series(list(mat))

        return embed

    def __call__(self, col: Column) -> Column:
        return self.udf()(col)


class SentenceTransformerEmbedder:
    """Production embedder seam (reference services/embedding_service.py:7-19,
    model name from config.py:9).  Lazy per-worker model load; not available
    in this container — constructing the UDF raises unless the package is
    importable."""

    def __init__(self, model_name: str = "all-MiniLM-L6-v2"):
        self.model_name = model_name

    def udf(self):
        try:
            import sentence_transformers  # noqa: F401
        except ImportError as e:  # pragma: no cover - not installed here
            raise NotImplementedError(
                "sentence-transformers is not installed in this environment; "
                "use HashingEmbedder for deterministic tests"
            ) from e
        model_name = self.model_name

        @F.pandas_udf(_EMBED_RETURN_TYPE)
        def embed(texts: pd.Series) -> pd.Series:  # pragma: no cover
            # Lazy per-worker singleton: load once per Python worker, reuse
            # across Arrow batches.
            import sentence_transformers

            global _ST_MODEL  # noqa: PLW0603
            try:
                model = _ST_MODEL
            except NameError:
                model = sentence_transformers.SentenceTransformer(model_name)
                _ST_MODEL = model
            mat = model.encode(texts.fillna("").tolist(), convert_to_tensor=False)
            return pd.Series([np.asarray(v, dtype=np.float32) for v in mat])

        return embed

    def __call__(self, col: Column) -> Column:
        return self.udf()(col)
