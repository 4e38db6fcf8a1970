"""Approximate nearest neighbors — the scale tier of the V4 kNN operator
(SURVEY.md §2.4 V3/V4 "Approx tier").

The reference's HNSW graph (services/index_service.py:87-96, hnswlib,
M=16/ef_construction=200/ef=50) is a single-machine in-memory structure; it
does not shard.  The Spark-native equivalent implemented here is
**signed-random-projection LSH** (Charikar 2002, SimHash for cosine space):

- ``n_tables`` independent hash tables, each hashing a vector to an
  ``n_planes``-bit signature: bit p = sign(v · h_p) with h_p a fixed
  Rademacher (+/-1) hyperplane.
- P[bit equal] = 1 - angle/pi, so near vectors collide; multiple tables
  boost recall (miss probability decays exponentially in n_tables).
- Candidates = equi-join on (table, signature) — a plain shuffled hash
  join, the bread-and-butter Spark operation; no graph, no driver state.
- Candidates are re-ranked EXACTLY (dot product on normalized vectors),
  so precision is 1.0 by construction; only recall is approximate.

Scale shape: corpus side materializes n_tables rows per vector (signature
build is map-only, codegen'd); the join shuffles on signature values whose
cardinality (2^n_planes * n_tables) is tunable to the cluster; queries are
broadcast.  Nothing is ever O(n_corpus^2) and nothing lives on the driver.

Hyperplanes are DETERMINISTIC: component j of plane p in table t is
+1/-1 by the parity of one md5 nibble of "t:p:j" — reproducible in any
engine (the DuckDB oracle embeds the same planes as literals).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.sources.generation_store import (
    GenerationStore,
    batch_id_of,
)
from vector_search_question_answer_api_spark.operators.search import ranked_topk

DEFAULT_N_PLANES = 8
DEFAULT_N_TABLES = 8


def recommended_n_planes(
    n_rows: int,
    n_tables: int = DEFAULT_N_TABLES,
    cand_per_row: int = 4,
) -> int:
    """The measured SRP signature-length sizing rule as code (SCALING.md,
    r5 addendum): a random pair shares a band w.p. ~n_tables x 2^-n_planes,
    so the structureless bulk of an n-row corpus contributes
    ~n^2 x n_tables / 2^n_planes spurious candidate pairs — a FIXED
    signature length re-enters the quadratic regime once n^2 outgrows
    2^n_planes (each +4 planes pushes the knee out 16x in the sweep).

    Solving ``n^2 x n_tables / 2^p <= cand_per_row x n`` for the smallest
    integer ``p`` gives ``p = ceil(log2(n x n_tables / cand_per_row))``:
    at the sweep's largest corpus (512k vectors, 8 tables) this yields the
    20 planes the r5 study measured as near-linear (slope 0.56, residual
    tail ~1-2e6 random candidates = the prescribed ~4/row budget).  Floored
    at ``DEFAULT_N_PLANES`` — below the knee the default is already in the
    linear regime and fewer planes only cost recall granularity."""
    import math

    if n_rows <= 0:
        return DEFAULT_N_PLANES
    p = math.ceil(math.log2(max(2.0, n_rows * n_tables / max(1, cand_per_row))))
    return max(DEFAULT_N_PLANES, p)


def recommended_lsh_params(
    n_rows: int,
    min_sim: float,
    target_recall: float = 0.95,
    cand_per_row: int = 4,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Joint (n_planes, n_tables) sizing for SRP-LSH near-dup at a corpus
    size AND a similarity threshold — the two-knob completion of
    :func:`recommended_n_planes` (SCALING.md r5 addendum: "raise n_tables
    alongside when recall at the target threshold matters").

    Standard OR-of-ANDs LSH analysis: a pair at cosine ``min_sim`` agrees
    on one random hyperplane w.p. ``1 - acos(min_sim)/pi``, on a whole
    p-plane band w.p. that to the p-th power, and survives ANY of t bands
    w.p. ``1 - (1 - band_p)**t``.  Planes bound the spurious-candidate
    budget (quadratic term), tables buy back recall at the threshold; the
    two couple (more tables -> more random collisions -> more planes), so
    this iterates the pair to a fixed point.  Hitting ``max_tables`` means
    the (threshold, recall) target is not cheaply LSH-able — prefer the
    clustered/SemDeDup tier there.

    Advisory, like :func:`recommended_pq_m` — no serving default changes
    under a caller's feet; `embedding_near_dup_pairs`'s auto-route warning
    quotes it for the corpus it just counted."""
    import math

    if not (0.0 < target_recall < 1.0):
        # log(1 - target_recall) below needs an open interval; 1.0 is the
        # honest "clamp" (ADVICE r9) — no finite table count reaches it,
        # so size for the closest representable target instead of raising
        # a bare math-domain error from inside the loop
        target_recall = min(max(target_recall, 1e-6), 1.0 - 1e-6)
    sim = min(1.0, max(-1.0, float(min_sim)))
    p_plane = 1.0 - math.acos(sim) / math.pi
    planes, tables = DEFAULT_N_PLANES, DEFAULT_N_TABLES
    for _ in range(8):
        new_planes = recommended_n_planes(n_rows, tables, cand_per_row)
        band_p = p_plane**new_planes
        if band_p >= 1.0:
            new_tables = 1
        elif band_p <= 0.0:
            new_tables = max_tables
        else:
            new_tables = min(
                max_tables,
                max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - band_p))),
            )
        if (new_planes, new_tables) == (planes, tables):
            break
        planes, tables = new_planes, new_tables
    return planes, tables


def recommended_lsh_compaction_every(
    reads_per_batch: float,
    fold_cost_sec: float,
    marginal_resolve_sec: float,
    max_every: int = 256,
) -> int:
    """The signature-store compaction-cadence rule as code (SCALE.md r12
    log-depth sweep): with cadence N (``maintain_corpus(compact_lsh_every
    =N)``), ``r`` serving reads per batch interval, a measured marginal
    resolution premium ``m`` per log batch (the window + anti-join the
    log-bearing read pays) and fold cost ``C``
    (``compact_lsh_signatures``), the average cost rate per batch
    interval is ``r*m*N/2 + C/N`` — premiums grow linearly in the depth
    the cadence allows, the fold amortizes over it — minimized at
    ``N* = sqrt(2C / (r*m))``.

    Advisory like every ``recommended_*`` rule: no serving default
    changes under a caller's feet.  Low read rates push the cadence out
    (the log stays shallow per read anyway at r<1); read-heavy serving
    pulls it toward compacting every batch.  Measured constants for the
    bench geometry live in ``measurements/r12_lsh_log_depth.json``,
    pinned by test_lsh_compaction."""
    import math

    if reads_per_batch <= 0 or marginal_resolve_sec <= 0:
        return max_every  # nothing reads the premium — fold rarely
    if fold_cost_sec <= 0:
        return 1
    n = math.sqrt(2.0 * fold_cost_sec / (reads_per_batch * marginal_resolve_sec))
    return max(1, min(max_every, round(n)))


@lru_cache(maxsize=None)
def hyperplanes(
    dim: int, n_planes: int = DEFAULT_N_PLANES, n_tables: int = DEFAULT_N_TABLES
) -> tuple[tuple[tuple[int, ...], ...], ...]:
    """planes[t][p] = length-``dim`` tuple of +/-1 (md5-parity seeded)."""
    out = []
    for t in range(n_tables):
        table = []
        for p in range(n_planes):
            h = [
                1
                if int(
                    hashlib.md5(f"{t}:{p}:{j}".encode()).hexdigest()[0], 16
                )
                % 2
                == 0
                else -1
                for j in range(dim)
            ]
            table.append(tuple(h))
        out.append(tuple(table))
    return tuple(out)


def _signatures_arrow(
    vec_col: Column, dim: int, n_planes: int, n_tables: int, center=None
) -> Column:
    """All n_tables x n_planes signature bits in one Arrow-batched pass.

    Bit-identity contract: the reference is the DuckDB oracle
    (``inventory._ann_oracle_sql``: ``list_dot_product(v, plane) >=
    offset``), which folds each dot as ``(((0.0 + x0*h0) + x1*h1) + ...)``
    in float64.  The kernel reproduces that EXACT addition order — one
    accumulate step per component ``j``, vectorized across (rows x
    planes) — and the products themselves are exact (h is +/-1,
    float->double widening is exact), so every signature equals the
    oracle's bit-for-bit even when a dot sits at the sign boundary.
    tests/test_ann.py pins kernel == DuckDB, uncentered and centered.

    The kernel is ~dim numpy axpy ops per BATCH, constant per-row Python
    cost (a per-lambda-step Catalyst form ran ~10 ms/vector at 16x3x64).
    """
    planes = hyperplanes(dim, n_planes, n_tables)
    import numpy as np

    # H[j, t*n_planes + p] = component j of plane p in table t.
    H = np.empty((dim, n_tables * n_planes), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            H[:, t * n_planes + p] = planes[t][p]
    # centered planes: bit = sign(p.v - p.mu); offsets from the shared
    # helper (same left-to-right fold as the dot) so the kernel stays
    # bit-identical to the oracle at the boundary
    if center is not None:
        offsets = _center_offsets(center, dim, n_planes, n_tables)
    else:
        offsets = np.zeros(H.shape[1], dtype=np.float64)
    prefixes = [f"t{t}:" for t in range(n_tables)]

    @F.pandas_udf("array<string>")
    def _sig(vs):  # pd.Series[np.ndarray[float32]] -> pd.Series[list[str]]
        import numpy as np
        import pandas as pd

        out = []
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64) for v in vs
        ]
        rows = [v for v in vals if v is not None]
        if rows:
            M = np.stack(rows)  # (n, dim) float64 — widening is exact
            if M.shape[1] != dim:
                # the r9 PQ lesson, applied here: a width that disagrees
                # with the declared dim must RAISE, not mis-slice (e.g. a
                # manifest from one index queried with another's vectors)
                raise ValueError(
                    f"lsh signatures: vectors have {M.shape[1]} components "
                    f"for dim={dim}"
                )
            acc = np.zeros((M.shape[0], H.shape[1]), dtype=np.float64)
            for j in range(dim):  # left-to-right, matching the oracle fold
                acc += M[:, j : j + 1] * H[j]
            bits = np.where(acc >= offsets, "1", "0")
        it = iter(range(len(rows)))
        for v in vals:
            if v is None:
                out.append(None)
                continue
            r = bits[next(it)]
            out.append(
                [
                    prefixes[t]
                    + "".join(r[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return _sig(vec_col)


def corpus_center(
    df: DataFrame, vec_col: str = "norm_embedding", dim: int | None = None
) -> tuple[float, ...]:
    """Element-wise mean of a vector column — ONE aggregation job emitting
    ``dim`` floats to the driver.  The centering artifact for
    ``with_lsh_signatures(center=...)``: real-text embeddings cluster
    around a dominant direction, and origin-through hyperplanes cannot
    split a cluster they don't pass through (measured at sf0.1: max
    bucket = 13.6% of the corpus at 14 planes — SCALE.md r9).  At 100 TB
    the mean is as cheap as any profile statistic and can be maintained
    incrementally (count-weighted merge)."""
    nonnull = df.filter(F.col(vec_col).isNotNull())
    if dim is None:
        # infer from a NON-NULL sample — a null first row would surface as
        # int(None) here, and a silent 0-dim center downstream (ADVICE r9)
        first = nonnull.select(F.size(vec_col)).first()
        if first is None:
            return ()
        dim = int(first[0])
    # F.get (not [i]): under ANSI mode an out-of-bounds subscript raises a
    # raw ArrayIndexOutOfBounds mid-agg; get() tolerates it to null, which
    # the explicit malformed-corpus error below reports with the cause
    row = nonnull.agg(
        *[F.avg(F.get(F.col(vec_col), i)).alias(f"c{i}") for i in range(dim)]
    ).first()
    if row is None or all(row[i] is None for i in range(dim)):
        # empty (or all-null) relation — no geometry to center on; () is
        # the "origin / uncentered" sentinel with_lsh_signatures accepts
        return ()
    # avg over the non-null relation can still be null per component only
    # if every vector is short at that position — a malformed corpus, not
    # a geometry; refuse to invent a 0.0 there
    vals = []
    for i in range(dim):
        if row[i] is None:
            raise ValueError(
                f"corpus_center: component {i} is null across the corpus "
                f"(vectors shorter than dim={dim}?)"
            )
        vals.append(float(row[i]))
    return tuple(vals)


def _center_offsets(center, dim: int, n_planes: int, n_tables: int):
    """offsets[t*n_planes+p] = plane . center, folded left-to-right in
    float64 exactly like the signature dot — the thresholds of both the
    Arrow kernel and its DuckDB reference (``list_dot_product(v, plane)
    >= offset``), so the two stay bit-identical at the sign boundary."""
    import numpy as np

    planes = hyperplanes(dim, n_planes, n_tables)
    mu = np.asarray(center, dtype=np.float64)
    offs = np.zeros(n_tables * n_planes, dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            acc = 0.0
            for j in range(dim):
                acc += mu[j] * planes[t][p][j]
            offs[t * n_planes + p] = acc
    return offs


def with_lsh_signatures(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = DEFAULT_N_PLANES,
    n_tables: int = DEFAULT_N_TABLES,
    out_col: str = "lsh_sigs",
    center=None,
) -> DataFrame:
    """Append ``out_col``: array of n_tables signature strings, each
    prefixed with its table id ("t0:010110...").

    All signatures come from one Arrow-batched kernel; the DuckDB oracle
    (``inventory._ann_oracle_sql``) is its value reference (bit-identical
    — see ``_signatures_arrow``).

    ``center`` (optional, ``dim`` floats — see :func:`corpus_center`)
    shifts every hyperplane through that point: ``bit = sign(p.(v - mu))``.
    Opt-in because the uncentered form is the oracle-pinned default
    (``ann_lsh_topk``'s DuckDB twin replicates it bit-for-bit); REQUIRED
    for clustered real-text embeddings, where origin-through planes
    collapse the signature space (SCALE.md r9: max bucket 13.6% of the
    corpus → candidate joins explode).  Both sides of a join must use the
    SAME center — it is part of the index artifact, like the codebooks."""
    # an empty center (corpus_center of an empty relation returns ()) is
    # the origin — same signatures as uncentered, not an offsets crash
    if center is not None and len(center) == 0:
        center = None
    if center is not None and len(center) != dim:
        raise ValueError(
            f"center has {len(center)} components for dim={dim}"
        )
    return df.withColumn(
        out_col,
        _signatures_arrow(F.col(vec_col), dim, n_planes, n_tables, center),
    )


# The SRP family identity: hyperplane component (t,p,j) is +/-1 by md5
# parity of "t:p:j".  Any consumer matching this string reproduces the
# planes exactly; a manifest with a different family must be refused, not
# silently re-hashed (bit-different signatures on one join side are the
# failure mode the artifact exists to prevent).
LSH_FAMILY = "srp-md5-parity-v1"
_LSH_MANIFEST = "_lsh_manifest.json"
_LSH_SIG_LOG = "signatures_log"
# signature-base generations (compact_lsh_signatures): SIG_MANIFEST names
# the current base dir (absent -> the write_lsh_index "signatures" dir);
# SIG_RETIRED lists paths superseded by the LAST compaction, physically
# deleted by the NEXT one — the index_stream grace-period protocol, so a
# lazily-executed reader plan survives one full compaction cycle.
_SIG_MANIFEST = "SIG_MANIFEST"
_SIG_RETIRED = "SIG_RETIRED"
_SIG_HORIZON = "SIG_HORIZON"


def signature_store(path: str) -> GenerationStore:
    """The signature store's generation files (``.sig-gen-<n>`` bases,
    ``signatures_log/batch=<id>`` maintenance log)."""
    return GenerationStore(
        path, _SIG_MANIFEST, _SIG_RETIRED, ".sig-gen-", _SIG_HORIZON
    )


def _base_dir(store: GenerationStore) -> str | None:
    """Absolute path of the current signature BASE: the generation the
    SIG_MANIFEST names (compacted store), else the legacy/initial
    ``signatures`` dir (write_lsh_index), else None (log-only store
    bootstrapped by the stream)."""
    import os

    gen = store.current_gen()
    if gen is not None:
        return os.path.join(store.path, gen)
    base = os.path.join(store.path, "signatures")
    return base if os.path.isdir(base) else None


def write_lsh_artifact(
    path: str,
    dim: int,
    n_planes: int = DEFAULT_N_PLANES,
    n_tables: int = DEFAULT_N_TABLES,
    center=None,
) -> None:
    """Persist the SRP signature parameters — (family, dim, n_planes,
    n_tables, center) — as ``path/_lsh_manifest.json``, the codebook/
    centroid precedent (``pq.write_ivfpq_index`` persists codebooks;
    the reference persists its whole index artifact,
    services/index_service.py:95).

    The center is the one piece of signature state that is DATA-derived
    (``corpus_center``): without persisting it, a stored signature table's
    consumer must recompute the mean on exactly the same corpus snapshot
    or silently produce bit-different signatures on one side of the bucket
    join (VERDICT r9, missing #1).  Store the manifest next to the
    signature table / index it was built for; ``read_lsh_artifact`` at
    query time; ``signatures_from_artifact`` applies it."""
    import json
    import os

    if center is not None and len(center) == 0:
        center = None
    if center is not None and len(center) != dim:
        raise ValueError(f"center has {len(center)} components for dim={dim}")
    os.makedirs(path, exist_ok=True)
    manifest = {
        "family": LSH_FAMILY,
        "dim": int(dim),
        "n_planes": int(n_planes),
        "n_tables": int(n_tables),
        "center": None if center is None else [float(c) for c in center],
    }
    tmp = os.path.join(path, _LSH_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _LSH_MANIFEST))


def read_lsh_artifact(path: str) -> dict:
    """Load a :func:`write_lsh_artifact` manifest.  Raises on an unknown
    plane family (a consumer silently hashing with different planes is
    exactly the corruption the manifest prevents).  ``center`` comes back
    as a tuple or None — pass the dict's fields straight to
    :func:`with_lsh_signatures` / :func:`lsh_candidates`, or use
    :func:`signatures_from_artifact`."""
    import json
    import os

    with open(os.path.join(path, _LSH_MANIFEST)) as f:
        m = json.load(f)
    if m.get("family") != LSH_FAMILY:
        raise ValueError(
            f"LSH artifact at {path!r} has plane family "
            f"{m.get('family')!r}; this build implements {LSH_FAMILY!r}"
        )
    m["center"] = None if m["center"] is None else tuple(m["center"])
    return m


def signatures_from_artifact(
    df: DataFrame, vec_col: str, artifact: dict | str, out_col: str = "lsh_sigs"
) -> DataFrame:
    """``with_lsh_signatures`` parameterized by a stored manifest (dict
    from :func:`read_lsh_artifact`, or a path to read it from) — the
    query-time half of the artifact round trip.  Signatures are
    bit-identical to the ones produced at write time by construction:
    same family, same knobs, same persisted center."""
    if isinstance(artifact, str):
        artifact = read_lsh_artifact(artifact)
    return with_lsh_signatures(
        df,
        vec_col,
        dim=artifact["dim"],
        n_planes=artifact["n_planes"],
        n_tables=artifact["n_tables"],
        out_col=out_col,
        center=artifact["center"],
    )


def write_lsh_index(
    index: DataFrame,
    path: str,
    dim: int | None = None,
    n_planes: int = DEFAULT_N_PLANES,
    n_tables: int = DEFAULT_N_TABLES,
    center=None,
    index_id_col: str = "doc_id",
    index_vec_col: str = "norm_embedding",
) -> None:
    """Materialize the LSH index on disk: the exploded ``(doc_id, sig)``
    signature table under ``path/signatures`` plus the
    :func:`write_lsh_artifact` manifest — the LSH analog of
    ``pq.write_ivfpq_index`` (reference: the persisted index artifact,
    services/index_service.py:95).

    At scale the signature table IS the index: without it every query
    batch re-runs the signature kernel over the whole corpus (an
    Arrow-UDF map of n_tables x n_planes dot products per vector); stored,
    the corpus side of the bucket join is a 2-column parquet scan.
    Vectors are NOT stored — candidates defer-fetch them from the vector
    table for the exact re-rank, exactly the ``ivfpq_topk_ondisk``
    contract.  ``dim`` is inferred from the data when omitted; the
    manifest records it with (planes, tables, center) so the query side
    can never hash differently from the stored side.

    Write ORDER (ADVICE r10): the non-atomic signature write happens
    FIRST and the manifest publishes LAST — the manifest is the "index is
    complete" marker (``read_lsh_artifact`` raises FileNotFoundError
    without it), so a build or REBUILD that dies mid-write leaves a
    manifest-less store that readers refuse loudly, never a valid
    manifest pointing at a missing/partial signature directory.  On a
    rebuild the previous manifest is removed up front for the same
    reason.  A rebuild also clears the maintenance log
    (:func:`append_lsh_signatures_batch`) — the fresh base supersedes
    every logged batch, making ``write_lsh_index`` the store's
    compaction."""
    import os
    import shutil

    if center is not None and len(center) == 0:
        center = None
    if center is not None and dim is not None and len(center) != dim:
        # fail before the expensive write, not at the final publish
        raise ValueError(f"center has {len(center)} components for dim={dim}")
    if dim is None:
        first = (
            index.filter(F.col(index_vec_col).isNotNull())
            .select(F.size(index_vec_col))
            .first()
        )
        if first is None:
            raise ValueError("write_lsh_index: empty index relation")
        dim = int(first[0])
        if center is not None and len(center) != dim:
            raise ValueError(
                f"center has {len(center)} components for dim={dim}"
            )
    try:
        os.remove(os.path.join(path, _LSH_MANIFEST))
    except FileNotFoundError:
        pass
    # a rebuild supersedes any compacted generation too: drop the
    # generation manifest/retire list/horizon and every .sig-gen-* dir so
    # the fresh "signatures" base cannot be shadowed by a stale pointer
    # (safe while the knob manifest is absent — readers refuse the store)
    signature_store(path).clear()
    sigs = with_lsh_signatures(
        index.select(
            F.col(index_id_col).alias("doc_id"),
            F.col(index_vec_col).alias("v"),
        ),
        "v",
        dim,
        n_planes,
        n_tables,
        center=center,
    ).select("doc_id", F.explode("lsh_sigs").alias("sig"))
    # sort within partitions by sig: run-length-friendly encoding and
    # bucket locality for the downstream equi-join's shuffle readers
    sigs.sortWithinPartitions("sig").write.mode("overwrite").parquet(
        os.path.join(path, "signatures")
    )
    shutil.rmtree(os.path.join(path, _LSH_SIG_LOG), ignore_errors=True)
    write_lsh_artifact(
        path, dim=dim, n_planes=n_planes, n_tables=n_tables, center=center
    )


def _artifacts_equal(a: dict, b: dict) -> bool:
    keys = ("family", "dim", "n_planes", "n_tables")
    if any(a.get(k) != b.get(k) for k in keys):
        return False
    ca = None if a.get("center") is None else tuple(a["center"])
    cb = None if b.get("center") is None else tuple(b["center"])
    return ca == cb


def append_lsh_signatures_batch(
    indexed_batch: DataFrame,
    path: str,
    batch_id: int,
    artifact: dict | str,
    id_col: str = "doc_id",
    vec_col: str = "norm_embedding",
    ts_col: str = "ts",
) -> None:
    """Incrementally maintain the on-disk signature table: write ONE
    micro-batch's ``(doc_id, sig)`` rows — hashed with the STORED manifest,
    so they can never bit-diverge from the base table or the query side —
    under ``path/signatures_log/batch=<id>`` (VERDICT r10 #1: the one
    managed artifact the composed ingest didn't refresh; reference analog:
    the always-fresh persisted index, services/index_service.py:95).

    Signatures are map-only per row — this is the cheapest incremental
    artifact in the engine: per batch, ``n_tables`` signature rows per doc
    plus one partition write; nothing corpus-sized.  Replay safety is the
    ``stats_stream`` ``batch=<id>`` OVERWRITE pattern (a checkpoint
    replays a failed batch under the same id and the second write lands on
    top of the first); the batch is deduped to its latest row per doc
    (by ``ts_col`` when present) so a doc upserted twice within one batch
    contributes exactly its final signatures, matching
    ``read_index_latest``'s resolution.  :func:`read_lsh_signatures`
    resolves base ∪ log latest-per-doc; a full :func:`write_lsh_index`
    rebuild folds the log away (the compaction).

    The manifest is verified (or created, for a store bootstrapped by the
    stream itself) on every batch: an ``artifact`` that disagrees with the
    stored manifest RAISES — silently appending rows hashed with different
    planes/center is the corruption the manifest exists to prevent."""
    import os

    art = read_lsh_artifact(artifact) if isinstance(artifact, str) else artifact
    if art.get("family", LSH_FAMILY) != LSH_FAMILY:
        raise ValueError(
            f"append_lsh_signatures_batch: plane family {art.get('family')!r}"
            f"; this build implements {LSH_FAMILY!r}"
        )
    try:
        stored = read_lsh_artifact(path)
        if not _artifacts_equal(stored, art):
            raise ValueError(
                f"append_lsh_signatures_batch: artifact disagrees with the "
                f"manifest stored at {path!r} — refusing to append "
                "bit-divergent signatures (rebuild via write_lsh_index to "
                "change knobs)"
            )
    except FileNotFoundError:
        # bootstrap ONLY over a truly empty store: a missing manifest over
        # EXISTING signature data is a crashed write_lsh_index rebuild
        # (manifest publishes last, as the completeness marker) — writing
        # a fresh manifest here would resurrect the stale pre-rebuild
        # base/log as a valid-looking store whose old batch ids outrank
        # the fresh base rows.  Refuse loudly; the rebuild is the fix.
        if (
            os.path.isdir(os.path.join(path, "signatures"))
            or os.path.isdir(os.path.join(path, _LSH_SIG_LOG))
            or os.path.isfile(signature_store(path).manifest_path)
        ):
            raise ValueError(
                f"append_lsh_signatures_batch: no manifest at {path!r} but "
                "signature data exists — an interrupted write_lsh_index "
                "rebuild; re-run write_lsh_index to publish a complete store"
            )
        write_lsh_artifact(
            path,
            dim=art["dim"],
            n_planes=art["n_planes"],
            n_tables=art["n_tables"],
            center=art["center"],
        )
    batch = indexed_batch.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("v"),
        *([F.col(ts_col).alias("_ts")] if ts_col in indexed_batch.columns else []),
    )
    if "_ts" in batch.columns:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.col("_ts").desc(), F.col("v").isNotNull().asc()
        )
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("doc_id", "v")
        )
    else:
        # no event time -> no within-batch version order: refuse a batch
        # whose duplicate doc_ids would otherwise keep BOTH versions'
        # signatures forever (the docstring's exactly-final-version
        # contract); one batch-sized agg
        dup = (
            batch.groupBy("doc_id").count().filter(F.col("count") > 1).first()
        )
        if dup is not None:
            raise ValueError(
                "append_lsh_signatures_batch: batch has multiple rows for "
                f"doc_id {dup['doc_id']} and no {ts_col!r} column to order "
                "them — add the event-time column so the final version wins"
            )
    # tombstone rows (null vector = deletion, index_stream.tombstones)
    # write ONE (doc_id, sig=NULL) marker row: it wins the latest-batch
    # resolution in read_lsh_signatures, which then drops null-sig rows —
    # the doc vanishes from the bucket join until a later batch revives it
    alive = batch.filter(F.col("v").isNotNull())
    dels = batch.filter(F.col("v").isNull()).select(
        "doc_id", F.lit(None).cast("string").alias("sig")
    )
    sigs = (
        signatures_from_artifact(alive, "v", art)
        .select("doc_id", F.explode("lsh_sigs").alias("sig"))
        .unionByName(dels)
    )
    sigs.sortWithinPartitions("sig").write.mode("overwrite").parquet(
        os.path.join(path, _LSH_SIG_LOG, f"batch={int(batch_id)}")
    )


def _resolve_sig_log(log: DataFrame) -> DataFrame:
    """Latest-batch-per-doc resolution over LOG rows only: the window
    input is log-sized by construction (each batch is already deduped to
    one version per doc at append time), and a doc whose newest batch is
    a deletion marker (sig=NULL) is dropped."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    return (
        log.withColumn("_mx", F.max("_batch").over(w))
        .filter(F.col("_batch") == F.col("_mx"))
        .filter(F.col("sig").isNotNull())
        .select("doc_id", "sig")
    )


def _read_sig_log(spark, path: str, dirs: list[str]) -> DataFrame:
    """(doc_id, sig, _batch) rows of the given ``batch=<id>`` log dirs —
    basePath keeps the partition column while letting the reader exclude
    grace-retired dirs (``GenerationStore.log_dirs``)."""
    import os

    return (
        spark.read.option("basePath", os.path.join(path, _LSH_SIG_LOG))
        .parquet(*dirs)
        .select("doc_id", "sig", F.col("batch").cast("long").alias("_batch"))
    )


def read_lsh_signatures(
    spark, path: str, up_to_batch: int | None = None
) -> DataFrame:
    """The resolved ``(doc_id, sig)`` view of a stored LSH index: base
    signature table (``write_lsh_index`` or the newest
    :func:`compact_lsh_signatures` generation) ∪ maintenance log
    (``append_lsh_signatures_batch``), newest batch per doc winning —
    the ``read_index_latest`` resolution, on signature rows.

    ``up_to_batch=B`` (r12, the consistent-read bound) restricts the log
    to batches ``<= B`` — the relation as it stood when batch B's append
    landed.  Exact only back to the COMPACTION HORIZON: the folded base
    keeps no per-batch provenance, so a bound below the highest folded
    batch RAISES rather than silently serving post-B rows as historical
    (the ``read_index_asof`` exactness discipline).  In the
    ``maintain_corpus`` flow this never fires for committed epochs — the
    in-stream cadence folds only batches older than the one being
    handled, so ``corpus_committed_epoch`` is always >= the horizon.
    A full ``write_lsh_index`` rebuild clears the horizon along with the
    log — it resets the store's history (the rebuilt base IS epoch zero);
    don't mix mid-stream rebuilds with bounded reads of older epochs.

    The resolution is LOG-SIZED (VERDICT r11 #1): the latest-per-doc
    window runs over the LOG only (typically a few batches between
    compactions), and the base — corpus x n_tables rows — NEVER rides a
    shuffle: base rows whose doc appears in the log are superseded
    unconditionally (every log batch id outranks the base), so they are
    removed by a broadcast anti-join on the log's doc_ids and the
    survivors union straight into the result.  A store with no log (the
    common serving case: built or compacted) returns the plain 2-column
    scan with no shuffle at all.  Base rows are null-free by
    construction (both writers hash only live vectors), so the
    tombstone drop applies on the log side only."""
    store = signature_store(path)
    base_p = _base_dir(store)
    log_dirs = store.log_dirs(_LSH_SIG_LOG, up_to_batch)
    if base_p is None and not log_dirs:
        raise FileNotFoundError(f"no LSH signature store at {path}")
    base = (
        spark.read.parquet(base_p).select("doc_id", "sig")
        if base_p is not None
        else None
    )
    if not log_dirs:
        return base  # non-None: the base_p/log_dirs guard above raised
    resolved_log = _resolve_sig_log(_read_sig_log(spark, path, log_dirs))
    if base is None:
        return resolved_log
    log_docs = (
        _read_sig_log(spark, path, log_dirs).select("doc_id").distinct()
    )
    kept = base.join(F.broadcast(log_docs), "doc_id", "left_anti")
    return kept.unionByName(resolved_log)


def compact_lsh_signatures(
    spark,
    path: str,
    up_to_batch: int | None = None,
    n_files: int = 4,
) -> bool:
    """Fold the signature base ∪ maintenance log into ONE new base
    generation — WITHOUT re-hashing anything (VERDICT r11 #2: the store's
    only prior compaction was a full ``write_lsh_index`` rebuild, which
    re-runs the corpus-wide signature kernel the store exists to avoid).
    Signatures are already computed; compaction is a latest-wins rewrite
    of ``(doc_id, sig)`` rows.  Returns True if a generation was
    published, False for a no-op (nothing to fold).

    Protocol = the ``index_stream.compact_index`` discipline, on the
    signature store's own files:

    - resolve base ∪ log (the :func:`read_lsh_signatures` relation —
      log-sized window + broadcast anti-join, never a base shuffle),
      write it sig-sorted into ``.sig-gen-<n+1>``;
    - publish ``SIG_MANIFEST`` atomically (``os.replace``) — a reader at
      any instant resolves a complete store: before the swap, old base ∪
      full log; after it, new base ∪ surviving log dirs, whose rows
      resolve to the exact values the fold baked in;
    - RETIRE (not delete) the superseded base dir and the folded log
      dirs into ``SIG_RETIRED``; the NEXT compaction physically deletes
      them — the one-cycle grace period that keeps lazily-executed
      reader plans valid.  New resolves exclude retired dirs
      (``GenerationStore.log_dirs`` / the manifest pointer).

    ``up_to_batch=N`` bounds the fold to log batches < N — the in-stream
    cadence contract (``maintain_corpus(compact_lsh_every=)``): called at
    the START of batch N's handler, a crashed attempt's own ``batch=N``
    dir is excluded from the fold and left in place for the replaying
    handler's overwrite, so replay resolves identically whether or not
    the crashed attempt appended.

    Deleted docs simply VANISH from the fold (their newest log row is a
    sig=NULL marker): unlike the index log, no downstream artifact reads
    deletion evidence from the signature store — ``read_index_tombstones``
    is the canonical source — so no id-only marker is kept."""
    import os

    # manifest must exist: compacting a store without its knob manifest
    # would publish a generation readers refuse anyway (FileNotFoundError
    # propagates with the store path in the message)
    read_lsh_artifact(path)

    # shared lifecycle (sources/generation_store, r13): grace-delete what
    # the previous compaction retired, sweep crashed-attempt orphans
    store = signature_store(path)
    cur = _base_dir(store)
    store.housekeep(keep=[cur] if cur is not None else [])

    snapshot = store.log_dirs(_LSH_SIG_LOG)
    if up_to_batch is not None:
        snapshot = [
            d
            for d in snapshot
            if batch_id_of(d) < int(up_to_batch)
        ]
    if not snapshot:
        return False  # nothing to fold — keep the current base as-is
    base = (
        spark.read.parquet(cur).select("doc_id", "sig")
        if cur is not None
        else None
    )
    resolved_log = _resolve_sig_log(_read_sig_log(spark, path, snapshot))
    if base is not None:
        log_docs = (
            _read_sig_log(spark, path, snapshot).select("doc_id").distinct()
        )
        folded = base.join(
            F.broadcast(log_docs), "doc_id", "left_anti"
        ).unionByName(resolved_log)
    else:
        folded = resolved_log
    new_gen = store.next_gen(
        os.path.basename(cur) if cur is not None else None
    )
    folded.sortWithinPartitions("sig").write.mode("overwrite").parquet(
        os.path.join(path, new_gen)
    )
    # horizon BEFORE the manifest: a crash between the two over-claims
    # (bounded reads below it raise needlessly) but never under-claims
    # (serving folded rows as historical state)
    store.stamp_horizon(max(batch_id_of(d) for d in snapshot))
    retire = list(snapshot)
    if cur is not None:
        retire.append(cur)
    store.publish(new_gen + "\n", retire)
    return True


def lsh_candidates_ondisk(
    spark,
    queries: DataFrame,
    path: str,
    index: DataFrame,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    broadcast_queries: bool = True,
    up_to_batch: int | None = None,
) -> DataFrame:
    """:func:`lsh_candidates` against a stored :func:`write_lsh_index`:
    the corpus side is the persisted signature table (2-column scan, no
    signature recompute — plus the latest-per-doc resolution when a
    maintenance log exists, see :func:`read_lsh_signatures`); the query
    side hashes with the manifest's exact (dim, planes, tables, center),
    so both sides collide bit-identically by construction.  Output schema
    matches ``lsh_candidates``.  ``up_to_batch`` bounds the signature
    resolution to a committed epoch (pass the matching epoch-bounded
    ``index`` relation for a fully consistent read — the signature side
    alone cannot make the deferred vector fetch historical)."""
    art = read_lsh_artifact(path)
    stored = read_lsh_signatures(spark, path, up_to_batch=up_to_batch)
    q = signatures_from_artifact(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ),
        "qvec",
        art,
    ).select("query_id", "qvec", F.explode("lsh_sigs").alias("sig"))
    q_side = F.broadcast(q) if broadcast_queries else q
    cand = (
        stored.join(q_side, "sig")
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    # deferred vector fetch for the exact re-rank (ivfpq_topk_ondisk shape)
    return cand.join(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ),
        "query_id",
    ).join(
        index.select(
            F.col(index_id_col).alias("doc_id"),
            F.col(index_vec_col).alias("cvec"),
        ),
        "doc_id",
    ).select("query_id", "doc_id", "qvec", "cvec")


def ann_lsh_topk_ondisk(
    spark,
    queries: DataFrame,
    path: str,
    index: DataFrame,
    k: int = 3,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    broadcast_queries: bool = True,
    up_to_batch: int | None = None,
) -> DataFrame:
    """:func:`ann_lsh_topk` served from the stored signature index —
    identical output to the in-memory form with the manifest's knobs
    (pinned in tests), minus the corpus-wide signature kernel per call.
    ``up_to_batch`` bounds the stored side to a committed epoch (pair it
    with an epoch-bounded ``index``)."""
    cand = lsh_candidates_ondisk(
        spark, queries, path, index, query_vec_col, index_vec_col,
        query_id_col, index_id_col, broadcast_queries,
        up_to_batch=up_to_batch,
    )
    scored = cand.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) - V.dot(F.col("qvec"), F.col("cvec"))).alias("distance"),
    )
    return ranked_topk(scored, k)


def lsh_candidates(
    queries: DataFrame,
    index: DataFrame,
    dim: int = 64,
    n_planes: int = DEFAULT_N_PLANES,
    n_tables: int = DEFAULT_N_TABLES,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    broadcast_queries: bool = True,
    center=None,
) -> DataFrame:
    """Candidate (query_id, doc_id, qvec, cvec) pairs that collide in at
    least one hash table — the bucket equi-join, deduplicated.

    ``broadcast_queries=False`` switches the bucket join to a plain shuffled
    equi-join on the signature: neither side is ever collected or broadcast,
    so the query side may be arbitrarily large (e.g. a full event-log replay
    where every event is a query).  Leave True when queries genuinely fit a
    broadcast — it saves the corpus-side shuffle.

    ``center`` applies the SAME centering to both sides (see
    :func:`with_lsh_signatures`) — mandatory on clustered real-text
    geometry, where uncentered buckets collapse and the candidate join
    explodes."""
    c = with_lsh_signatures(
        index.select(
            F.col(index_id_col).alias("doc_id"),
            F.col(index_vec_col).alias("cvec"),
        ),
        "cvec",
        dim,
        n_planes,
        n_tables,
        center=center,
    ).select("doc_id", "cvec", F.explode("lsh_sigs").alias("sig"))
    q = with_lsh_signatures(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ),
        "qvec",
        dim,
        n_planes,
        n_tables,
        center=center,
    ).select("query_id", "qvec", F.explode("lsh_sigs").alias("sig"))
    # Bucket join on (table, signature); queries broadcast when small.
    q_side = F.broadcast(q) if broadcast_queries else q
    return (
        c.join(q_side, "sig")
        .select("query_id", "doc_id", "qvec", "cvec")
        .dropDuplicates(["query_id", "doc_id"])
    )


def ann_lsh_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_planes: int = DEFAULT_N_PLANES,
    n_tables: int = DEFAULT_N_TABLES,
    query_vec_col: str = "qvec",
    index_vec_col: str = "norm_embedding",
    query_id_col: str = "query_id",
    index_id_col: str = "doc_id",
    center=None,
    artifact: "dict | str | None" = None,
) -> DataFrame:
    """Approximate cosine top-k: LSH bucket join -> exact re-rank.

    Both vector columns must be L2-normalized.  Returns the same shape as
    ``knn_exact_expr`` (query_id, doc_id, distance, score, rank) minus any
    neighbor missed by every hash table.  ``center`` passes through to the
    signature kernel (see :func:`with_lsh_signatures`) — use
    :func:`corpus_center` on clustered/biased corpora.  ``artifact`` (a
    :func:`read_lsh_artifact` dict or its path) supplies
    (dim, n_planes, n_tables, center) wholesale — the same knob every SRP
    consumer takes.
    """
    if artifact is not None:
        art = read_lsh_artifact(artifact) if isinstance(artifact, str) else artifact
        dim, n_planes = art["dim"], art["n_planes"]
        n_tables, center = art["n_tables"], art["center"]
    cand = lsh_candidates(
        queries, index, dim, n_planes, n_tables,
        query_vec_col, index_vec_col, query_id_col, index_id_col,
        center=center,
    )
    scored = cand.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) - V.dot(F.col("qvec"), F.col("cvec"))).alias("distance"),
    )
    return ranked_topk(scored, k)
