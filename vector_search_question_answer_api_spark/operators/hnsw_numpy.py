"""Dependency-free HNSW (Malkov & Yashunin 2016, "Efficient and robust
approximate nearest neighbor search using Hierarchical Navigable Small
World graphs") in numpy + heapq — the one graph implementation behind
the partitioned graph-ANN tier (operators/ann_hnsw.py).

The reference's entire index is one hnswlib graph
(services/index_service.py:87-96: cosine space, M=16, ef_construction=200,
search ef=50).  This module implements the same algorithm, following
hnswlib's choices where the paper leaves room — hierarchical layers with
exponentially decaying occupancy, greedy descent through upper layers,
ef-bounded best-first beam search at each level, bidirectional M-links
with shrink-to-Mmax — so the tier runs everywhere without a native
dependency.

Faithfulness and divergences (documented, deliberate):

- level assignment is the paper's ``floor(-ln(U) * (1/ln(M)))`` but U is
  derived from ``md5(seed, label)`` instead of a shared RNG stream —
  insertion-order-independent and reproducible across engines/processes
  (the same determinism rule as every hashing primitive in this repo);
- neighbor selection uses the paper's Algorithm 4 diversity heuristic
  (hnswlib's ``getNeighborsByHeuristic2``): accept a candidate only if
  it is strictly closer to the query than to every already-selected
  neighbor (r6 — the earlier keep-M-closest simplification plateaued at
  recall ~0.94 on clustered geometry at n=8k; the heuristic restores
  the cross-cluster edges, measured ef curves in SCALE.md r6/r7);
  both insertion and shrink-to-Mmax re-select with it;
- vectors are expected L2-normalized; distance is cosine distance
  ``1 - dot`` exactly as the rest of the engine computes it;
- deletion is hnswlib-style MARKING (r13): ``mark_deleted`` tombstones a
  label — the node stays in the link structure as a CONNECTOR (removing
  it would tear the neighborhoods it stitches together, the exact
  "tombstones poison graph neighborhoods" failure), but the level-0
  query excludes dead nodes from the RESULT set while still traversing
  through them, mirroring hnswlib's ``isMarkedDeleted`` filter inside
  ``searchBaseLayerST``.  Dead mass degrades walk efficiency, never
  correctness, and the maintained-store refresh rebuilds a cell once its
  dead fraction crosses a threshold (``ann_hnsw.refresh_celled_hnsw_index``).

Scale shape: a graph is PER PARTITION (built inside one task, queried
inside one task, serialized as one binary row).  All per-node state is
numpy rows + python link lists; build is O(n * efc * log n) distance
evaluations, each a vectorized dot over a candidate block.
"""

from __future__ import annotations

import hashlib
import heapq
import math

import numpy as np


class NumpyHNSW:
    """One in-memory HNSW graph over L2-normalized vectors (cosine space).

    The method names follow hnswlib's Python API (``add_items``,
    ``knn_query``, ``set_ef``, ``mark_deleted``, ``get_current_count``),
    the library the algorithm's details come from.
    """

    def __init__(
        self,
        dim: int,
        m: int = 16,
        ef_construction: int = 200,
        seed: int = 0x5EED,
    ):
        self.dim = dim
        self.m = m
        self.m0 = 2 * m
        self.efc = ef_construction
        self.mult = 1.0 / math.log(m)
        self.seed = seed
        self.ef = 50
        self.vecs: np.ndarray | None = None
        self.labels: np.ndarray | None = None
        self.links: list[list[list[int]]] = []
        self.entry = -1
        self.max_level = -1
        self.dead: set[int] = set()

    # -- public surface --------------------------------------------------
    def set_ef(self, ef: int) -> None:
        self.ef = int(ef)

    def get_current_count(self) -> int:
        """TOTAL node count including tombstoned entries (hnswlib's
        ``element_count``); ``knn_query`` caps k at it, and short live
        results pad with the -1/+inf sentinel."""
        return 0 if self.vecs is None else len(self.links)

    def _dead_set(self) -> set[int]:
        # graphs pickled before r13 have no ``dead`` attribute; treat them
        # as all-live (true by construction — they were built fresh)
        return getattr(self, "dead", None) or set()

    def get_deleted_count(self) -> int:
        return len(self._dead_set())

    def get_live_count(self) -> int:
        return self.get_current_count() - self.get_deleted_count()

    def mark_deleted(self, label: int) -> int:
        """Tombstone every LIVE node carrying ``label``; returns how many
        were newly marked (0 = label absent or already dead — a no-op, so
        checkpoint replays converge).  The node keeps its links and keeps
        serving as a traversal connector."""
        if self.labels is None:
            return 0
        if getattr(self, "dead", None) is None:
            self.dead = set()
        marked = 0
        for i in np.nonzero(self.labels == int(label))[0]:
            i = int(i)
            if i not in self.dead:
                self.dead.add(i)
                marked += 1
        return marked

    # -- internals -------------------------------------------------------
    def _level_for(self, label: int) -> int:
        """Deterministic per-label level draw: md5 -> U(0,1) -> geometric
        tail.  Independent of insertion order and process."""
        h = hashlib.md5(f"hnsw:{self.seed}:{label}".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / float(1 << 52)  # (0, 1]
        return int(-math.log(u) * self.mult)

    def _dists(self, q: np.ndarray, idxs: list[int]) -> np.ndarray:
        # np.intp conversion first: fancy-indexing with a python list pays
        # a per-element conversion that dominates build time on small
        # candidate blocks.  Same elements, same arithmetic, same output.
        return 1.0 - self.vecs[np.asarray(idxs, dtype=np.intp)] @ q

    def _links_arr(self, node: int, level: int) -> np.ndarray:
        """The node's neighbor list as an int array (r15 query/build hot
        path): links are STORED as small numpy arrays so the per-hop
        visited filter and the distance gather are vectorized instead of
        per-element python set lookups.  Graphs pickled before r15 hold
        python lists — coerce lazily, in place, same elements same
        order."""
        ln = self.links[node][level]
        if type(ln) is not np.ndarray:
            ln = np.asarray(ln, dtype=np.intp)
            self.links[node][level] = ln
        return ln

    def _search_layer(
        self,
        q: np.ndarray,
        entry_points: list[int],
        ef: int,
        level: int,
        live_only: bool = False,
    ) -> list[tuple[float, int]]:
        """Best-first beam search: returns up to ``ef`` (dist, node) pairs
        ascending by (dist, node) — the node tiebreak keeps results
        deterministic under equal distances.

        ``live_only`` (the level-0 QUERY path of a graph carrying
        tombstones): dead nodes are traversed — they stay in ``cand`` and
        keep stitching the beam through their neighborhoods — but never
        enter ``best``, so the ef budget counts LIVE results only.  This
        is hnswlib's ``searchBaseLayerST<has_deletions=true>`` shape.
        Build-time searches (``_insert``) keep ``live_only=False``: new
        nodes may link to dead connectors, exactly as hnswlib does.

        r15 (optimization round): the per-hop ``n not in visited`` set
        filter and list-comp were the walk's python-overhead floor; the
        visited set is now a boolean array indexed by the neighbor array
        in one vectorized gather.  Arithmetic is untouched — the same
        neighbor rows reach the same ``vecs[neigh] @ q`` gemv in the same
        order, so every emitted (distance, node) pair is bit-identical to
        the r14 implementation (pinned by the build/serve equality
        tests)."""
        dead = self._dead_set() if live_only else ()
        visited = np.zeros(len(self.links), dtype=bool)
        ep = np.asarray(entry_points, dtype=np.intp)
        visited[ep] = True
        d0 = 1.0 - self.vecs[ep] @ q
        cand = [(float(d), int(i)) for d, i in zip(d0, entry_points)]
        heapq.heapify(cand)
        best = [(-d, i) for d, i in cand if i not in dead]
        heapq.heapify(best)
        while len(best) > ef:
            heapq.heappop(best)
        while cand:
            d, c = heapq.heappop(cand)
            if len(best) >= ef and d > -best[0][0]:
                break
            ln = self._links_arr(c, level)
            if not ln.size:
                continue
            neigh = ln[~visited[ln]]
            if not neigh.size:
                continue
            visited[neigh] = True
            ds = 1.0 - self.vecs[neigh] @ q
            for n, dn in zip(neigh.tolist(), ds.tolist()):
                if len(best) < ef or dn < -best[0][0]:
                    heapq.heappush(cand, (dn, n))
                    if n not in dead:
                        heapq.heappush(best, (-dn, n))
                        if len(best) > ef:
                            heapq.heappop(best)
        return sorted((-nd, i) for nd, i in best)

    def _select_neighbors(
        self, cand: list[tuple[float, int]], m: int
    ) -> list[int]:
        """Algorithm 4 of the paper (hnswlib's getNeighborsByHeuristic2):
        walk candidates in ascending (dist-to-q, node) order and accept
        one only if it is STRICTLY closer to q than to every
        already-selected neighbor — the diversity condition that keeps
        edges spanning between clusters instead of all pointing into the
        densest one.  When the heuristic keeps fewer than ``m``, remaining
        slots are back-filled with the closest REJECTED candidates (the
        paper's keepPrunedConnections flag, hnswlib's default) — without
        it, selected lists can run short of m, which raises the odds that
        shrink-to-Mmax disconnects a level-0 region (ADVICE r6).
        Deterministic: candidate order is the engine's global (dist, node)
        tie rule, the accept test is pure arithmetic, and the back-fill
        takes pruned candidates in the same order.

        r15 (optimization round): the accept test needs candidate-to-
        selected distances; computing them one tiny gemv PER CANDIDATE
        (~370k numpy calls per 1k-node build, 57% of build time in the
        profile) is replaced by ONE pairwise gemm over the candidate
        block up front, with the sequential accept loop reading plain
        scalars out of it.  Same candidates, same accept rule, same
        order; the pairwise dot of a (candidate, selected) pair now
        rounds inside a gemm instead of a gemv, which can differ in the
        last float64 ulp — an accept flip needs the candidate's two
        distances EQUAL to within that ulp, and the build remains fully
        deterministic (fixed BLAS, fixed shapes) either way."""
        k = len(cand)
        if k == 0:
            return []
        ids = [e for _, e in cand]
        if k == 1:
            return [int(ids[0])]
        vmat = self.vecs[np.asarray(ids, dtype=np.intp)]
        pair = 1.0 - vmat @ vmat.T  # pairwise cosine distances
        d_arr = np.fromiter((d for d, _ in cand), dtype=np.float64, count=k)
        # blocked[j] == "some already-selected neighbor is closer to j
        # than q is" — maintained incrementally: each accept updates the
        # candidates AFTER it in one vectorized compare, replacing the
        # per-candidate any()-over-selected scan (same pair matrix, same
        # accept decisions)
        blocked = np.zeros(k, dtype=bool)
        selected_j: list[int] = []
        pruned_j: list[int] = []
        for j in range(k):
            if len(selected_j) >= m:
                break
            if blocked[j]:
                pruned_j.append(j)
                continue
            selected_j.append(j)
            if len(selected_j) < m and j + 1 < k:
                rest = slice(j + 1, k)
                np.logical_or(
                    blocked[rest],
                    pair[rest, j] < d_arr[rest],
                    out=blocked[rest],
                )
        out = [int(ids[j]) for j in selected_j]
        if len(out) < m and pruned_j:
            out.extend(int(ids[j]) for j in pruned_j[: m - len(out)])
        return out

    def _shrink(self, node: int, level: int, mmax: int) -> None:
        ln = self._links_arr(node, level)
        if len(ln) <= mmax:
            return
        ds = self._dists(self.vecs[node], ln)
        cand = sorted(zip((float(x) for x in ds), (int(x) for x in ln)))
        self.links[node][level] = np.asarray(
            self._select_neighbors(cand, mmax), dtype=np.intp
        )

    # -- build / query ---------------------------------------------------
    def add_items(self, mat: np.ndarray, labels: np.ndarray) -> None:
        """Bulk insert.  Rows are inserted in ascending-label order so the
        graph is independent of the caller's row order."""
        mat = np.asarray(mat, dtype=np.float64)
        labels = np.asarray(labels, dtype=np.int64)
        order = np.argsort(labels, kind="stable")
        mat, labels = mat[order], labels[order]
        if self.vecs is None:
            self.vecs = mat.copy()
            self.labels = labels.copy()
        else:
            self.vecs = np.vstack([self.vecs, mat])
            self.labels = np.concatenate([self.labels, labels])
        for row in range(len(labels)):
            self._insert(len(self.links), int(labels[row]))

    def _insert(self, i: int, label: int) -> None:
        level = self._level_for(label)
        self.links.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return
        q = self.vecs[i]
        ep = [self.entry]
        for lc in range(self.max_level, level, -1):
            ep = [self._search_layer(q, ep, 1, lc)[0][1]]
        for lc in range(min(level, self.max_level), -1, -1):
            cand = self._search_layer(q, ep, self.efc, lc)
            mmax = self.m0 if lc == 0 else self.m
            neighbors = self._select_neighbors(cand, self.m)
            self.links[i][lc] = np.asarray(neighbors, dtype=np.intp)
            for n in neighbors:
                self.links[n][lc] = np.append(self._links_arr(n, lc), i)
                self._shrink(n, lc, mmax)
            ep = [n for _, n in cand]
        if level > self.max_level:
            self.entry, self.max_level = i, level

    def knn_query(self, qmat: np.ndarray, k: int, ef: int | None = None):
        """(labels, distances), each (n_queries, k) — ascending distance,
        label-ascending tiebreak (the engine's global tie rule).

        If the level-0 beam reaches fewer than k nodes (possible when
        shrink-to-Mmax disconnects a region, or when tombstones leave
        fewer than k LIVE nodes), the tail is PADDED with label ``-1`` /
        distance ``+inf`` — never uninitialized memory — so a short
        result can neither outrank real candidates in an ascending merge
        nor leak garbage labels.  Callers filter the sentinel.

        Tombstoned nodes (``mark_deleted``) are excluded from results but
        traversed as connectors; upper-layer greedy descent ignores
        deletion entirely (a dead entry point is still the best bridge
        down), matching hnswlib."""
        if self.vecs is None or not len(self.links):
            raise ValueError("empty index")
        qmat = np.asarray(qmat, dtype=np.float64)
        if qmat.size == 0:
            # no queries, not one zero-width query
            qmat = qmat.reshape(0, self.vecs.shape[1])
        qmat = np.atleast_2d(qmat)
        k = min(k, self.get_current_count())
        ef = max(self.ef if ef is None else ef, k)
        out_l = np.full((len(qmat), k), -1, dtype=np.int64)
        out_d = np.full((len(qmat), k), np.inf, dtype=np.float64)
        for qi, q in enumerate(qmat):
            ep = [self.entry]
            for lc in range(self.max_level, 0, -1):
                ep = [self._search_layer(q, ep, 1, lc)[0][1]]
            res = self._search_layer(q, ep, ef, 0, live_only=True)[:k]
            # internal ids -> external labels, re-tiebreak on label
            res = sorted((d, int(self.labels[i])) for d, i in res)
            for j, (d, lab) in enumerate(res):
                out_l[qi, j] = lab
                out_d[qi, j] = d
        return out_l, out_d
