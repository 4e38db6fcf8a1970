"""Stable, engine-portable hashing primitives for dedup/fingerprint operators.

Everything is built on ``md5`` (hex string) because MD5 is identical across
Spark, DuckDB, and Python — the DuckDB-oracle correctness gate can replicate
every hash bit-for-bit in pure SQL.  Spark's native ``xxhash64``/``hash``
are faster but engine-specific, so they're reserved for internal-only paths
(e.g. salting), never for results that cross the oracle boundary.

MinHash background: Broder, "On the resemblance and containment of
documents" (1997).  SimHash: Charikar, "Similarity estimation techniques
from rounding algorithms" (STOC 2002).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def band_keys(signature: Column, n_bands: int, rows_per_band: int) -> Column:
    """LSH band keys: hash of each contiguous ``rows_per_band`` slice of the
    signature.  Docs sharing any band key become candidate pairs.
    Elements are stringified first so numeric (array<long>) and hex-string
    signatures share one implementation."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(signature, b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    ),
                )
            )
            for b in range(n_bands)
        ]
    )


def simhash_bits_arrow(tokens_col: Column, n_bits: int = 64) -> Column:
    """Arrow-batched SimHash fingerprint, computed map-side.

    For each distinct token, its md5 supplies one bit per position; each
    bit votes +1/-1 and the fingerprint takes the sign of the sum (ties ->
    '0'), as an ``n_bits``-char '0'/'1' string that stays portable to the
    DuckDB oracle.  Value-identical to ``dedup.simhash_fingerprints``'
    ``relational`` strategy (test_dedup) and to the oracle's
    ``inventory._simhash_sql_expr``.

    Per input row: distinct tokens -> one md5 digest each -> unpack to a
    (tokens x n_bits) bit matrix -> column sums are the votes -> sign
    string.  Python's ``hashlib.md5`` over the UTF-8 token equals Spark's
    ``F.md5`` and DuckDB's ``md5`` bit-for-bit, so the value stays inside
    the oracle contract.

    Scale rationale: fingerprinting is embarrassingly parallel per doc.
    The relational form materializes |tokens| x n_bits vote rows and
    shuffles twice (vote agg + bit collect) — linear but with a 64x row
    blowup ahead of the first exchange.  This form is one Arrow-batched
    projection: zero shuffle, zero row blowup, and the per-batch numpy
    work (unpackbits + column sum) is vectorized.  At 100 TB the cluster
    cost is a pure map pass over the corpus.
    """
    assert n_bits <= 128  # md5 supplies 128 bits

    @F.pandas_udf("string")
    def _fp(toks):  # pd.Series[list[str]] -> pd.Series[str]
        import hashlib

        import numpy as np
        import pandas as pd

        zero = "0" * n_bits
        out = []
        for t in toks:
            if t is None or len(t) == 0:
                out.append(zero)
                continue
            uniq = list(set(t))
            digests = b"".join(
                hashlib.md5(s.encode("utf-8")).digest() for s in uniq
            )
            bits = np.unpackbits(
                np.frombuffer(digests, dtype=np.uint8).reshape(len(uniq), 16),
                axis=1,
            )[:, :n_bits]
            # votes = (+1 per set bit) + (-1 per clear bit); tie -> '0'
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(uniq)
            out.append("".join("1" if v > 0 else "0" for v in votes))
        return pd.Series(out)

    return _fp(tokens_col)


def hamming_distance_bits(a: Column, b: Column, n_bits: int = 64) -> Column:
    """Hamming distance between two equal-length '0'/'1' strings.

    Computed chunk-wise: each 16-bit slice converts to a long (``conv``)
    and XORs, counting set bits with ``bit_count`` — a handful of codegen'd
    scalar ops per pair.  (A char-by-char higher-order-function comparison
    evaluates 64 interpreted lambda steps per pair and dominated the whole
    simhash pipeline once candidate pairs reached the millions.)"""
    chunk = 16
    terms = []
    for s in range(0, n_bits, chunk):
        width = min(chunk, n_bits - s)
        ca = F.conv(F.substring(a, s + 1, width), 2, 10).cast("long")
        cb = F.conv(F.substring(b, s + 1, width), 2, 10).cast("long")
        terms.append(F.bit_count(ca.bitwiseXOR(cb)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
