"""The ONE owner of the generation-store file protocol: every folding
store reads and publishes its manifest, RETIRED grace list, fold horizon
and ``batch=<id>`` maintenance log through :class:`GenerationStore`.

Six adopters, each with its own file names (per-store constants passed
to the constructor): the embedding index (``streaming/index_stream``),
the BM25 postings store (``operators/lexical_store``), the LSH signature
store (``operators/ann``), the docs store (``streaming/ingest_stream``),
the corpus profile (``streaming/stats_stream``) and the cell store
(``sources/cell_store``, whose per-cell mapping and partition sweep stay
with it).  The store-SPECIFIC parts — what a fold resolves, what a
generation contains, which log dirs retire — stay with each store.

Reference analog: one persisted-artifact discipline
(services/index_service.py:69-95 — the reference saves/loads a single
index artifact; the engine generalizes that to log-structured stores that
periodically FOLD their maintenance log into a fresh base generation).

Read half:

- the manifest names the current generation (a single line, or a JSON
  object carrying it under ``"gen"``);
- live log dirs are ``<sub>/batch=<id>``, oldest first by numeric id,
  minus the RETIRED entries (compared by realpath, so the exclusion holds
  however the store path is spelled);
- the fold HORIZON is the highest batch a fold consumed.  A fold keeps
  only each key's latest row, so ``up_to_batch`` reads are exact only
  back to the horizon; below it they raise (loud, never a silently
  mixed state).

Lifecycle of a fold:

1. **grace-delete**: physically drop what the PREVIOUS publish retired —
   the one-cycle grace period that keeps lazily-executed reader plans
   valid across a publish.
2. **orphan sweep**: a generation dir referenced by neither the manifest
   nor the RETIRED file is a crashed attempt's leftover (died after the
   gen write, before the publish) — delete it.
3. store writes the new generation's content;
4. stamp the fold horizon — BEFORE the manifest, so a crash between the
   two over-claims loudly (bounded reads raise needlessly), never
   under-claims silently (folded rows served as historical state);
5. **publish**: manifest swapped atomically (``os.replace``), then the
   RETIRED list — a reader at any instant resolves a complete store.

Crash-window guarantees (each pinned in the adopting stores' tests —
``test_lsh_compaction.py`` / ``test_lexical_store.py`` /
``test_profile_rebuild.py`` / ``test_docs_purge.py`` /
``test_streaming.py`` / ``test_cell_store.py``):

- crash before publish: the half-written generation is swept as an
  orphan by the next attempt; readers never saw it.
- crash between manifest and RETIRED: the next attempt's sweep spares
  dirs the manifest references; superseded dirs it can no longer prove
  retired are swept as orphans — readers already resolve the NEW view.
- replay after a successful publish: the fold is idempotent store-side;
  this helper only ever advances the generation counter.
"""

from __future__ import annotations

import glob
import json
import os
import shutil


def _atomic_write(target: str, content: str) -> None:
    d, b = os.path.split(target)
    tmp = os.path.join(d, "." + b + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
    os.replace(tmp, target)


def batch_id_of(dir_path: str) -> int:
    """The integer id of a ``batch=<id>`` log dir."""
    return int(os.path.basename(dir_path).split("=")[1])


class GenerationStore:
    """Files of a generation-folding store rooted at ``path``:
    ``manifest_name`` (the atomic pointer — single-line generation name
    or a JSON object carrying one under ``"gen"``), ``retired_name``
    (the grace list: one realpath per line), ``gen_prefix`` (e.g.
    ``".sig-gen-"`` — generation dirs are ``<prefix><n:06d>``) and
    ``horizon_name`` (the fold-horizon file; None for a store whose
    bound rides its manifest)."""

    def __init__(
        self, path: str, manifest_name: str, retired_name: str,
        gen_prefix: str, horizon_name: "str | None" = None,
    ):
        self.path = path
        self.manifest_path = os.path.join(path, manifest_name)
        self.retired_path = os.path.join(path, retired_name)
        self.gen_prefix = gen_prefix
        self.horizon_path = (
            None if horizon_name is None else os.path.join(path, horizon_name)
        )

    # ---------------------------------------------------------- reading
    def manifest_text(self) -> "str | None":
        try:
            with open(self.manifest_path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def manifest_json(self) -> "dict | None":
        txt = self.manifest_text()
        return None if txt is None else json.loads(txt)

    def current_gen(self) -> "str | None":
        """Name of the manifest-named generation dir, or None (no
        manifest, or one that names no generation)."""
        txt = (self.manifest_text() or "").strip()
        if txt.startswith("{"):
            return json.loads(txt).get("gen")
        return txt or None

    def retired(self) -> list[str]:
        """Realpaths the last publish retired (files or dirs)."""
        try:
            with open(self.retired_path, encoding="utf-8") as f:
                return [
                    os.path.realpath(ln.strip()) for ln in f if ln.strip()
                ]
        except FileNotFoundError:
            return []

    def horizon(self) -> "int | None":
        """The highest batch a fold has consumed, or None if the store
        has never folded (any bound is then exact — the whole maintenance
        history is in the log)."""
        if self.horizon_path is None:
            return None
        try:
            with open(self.horizon_path, encoding="utf-8") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def check_horizon(self, up_to_batch: int) -> None:
        """Raise when ``up_to_batch`` is below the fold horizon: the fold
        kept no per-batch history there."""
        h = self.horizon()
        if h is not None and int(up_to_batch) < h:
            raise ValueError(
                f"up_to_batch={int(up_to_batch)} is below the compaction "
                f"horizon {h} at {self.path!r} — a fold keeps only each "
                "key's latest row, so that historical state is no longer "
                "resolvable"
            )

    def log_dirs(
        self, sub: str, up_to_batch: "int | None" = None
    ) -> list[str]:
        """Live ``<sub>/batch=<id>`` dirs, OLDEST first, excluding dirs
        the last publish retired (still on disk through the grace period
        — a new resolve must not double-count rows a published generation
        already folded).  ``up_to_batch`` keeps batches ``<=`` the bound
        and raises below the horizon (:meth:`check_horizon`)."""
        if up_to_batch is not None:
            self.check_horizon(up_to_batch)
        retired = set(self.retired())
        dirs = [
            d
            for d in glob.glob(os.path.join(self.path, sub, "batch=*"))
            if os.path.isdir(d)
            and os.path.realpath(d) not in retired
            and (up_to_batch is None or batch_id_of(d) <= int(up_to_batch))
        ]
        return sorted(dirs, key=batch_id_of)

    # ----------------------------------------------------- housekeeping
    def grace_delete(self) -> None:
        """Grace period elapsed: physically drop what the PREVIOUS
        publish retired (no current resolve references these)."""
        for stale in self.retired():
            if os.path.isdir(stale):
                shutil.rmtree(stale, ignore_errors=True)
            else:
                try:
                    os.remove(stale)
                except FileNotFoundError:
                    pass

    def orphan_sweep(self, keep=()) -> None:
        """Drop ``<gen_prefix>*`` dirs referenced by neither ``keep``
        (the store's current generation(s)) nor the RETIRED list — a
        write that died between its gen write and its publish."""
        spared = {os.path.realpath(k) for k in keep if k}
        spared.update(self.retired())
        for d in glob.glob(os.path.join(self.path, self.gen_prefix + "*")):
            if os.path.isdir(d) and os.path.realpath(d) not in spared:
                shutil.rmtree(d, ignore_errors=True)

    def housekeep(self, keep=()) -> None:
        self.grace_delete()
        self.orphan_sweep(keep)

    def clear(self) -> None:
        """Drop the manifest, RETIRED and horizon files and every
        generation dir — a full rebuild resets the store's history."""
        for p in (self.manifest_path, self.retired_path, self.horizon_path):
            if p is not None:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        for d in glob.glob(os.path.join(self.path, self.gen_prefix + "*")):
            shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------- publishing
    def next_gen(self, current_name: "str | None") -> str:
        """The successor generation name; restarts at 0 when the current
        pointer is absent or a legacy (non-generation) layout."""
        if current_name is not None and current_name.startswith(
            self.gen_prefix
        ):
            n = int(current_name.split("-")[-1]) + 1
        else:
            n = 0
        return f"{self.gen_prefix}{n:06d}"

    def stamp_horizon(self, batch_id: int) -> None:
        """Atomic horizon publish — call BEFORE :meth:`publish` (see the
        module docstring's crash rule)."""
        _atomic_write(self.horizon_path, f"{int(batch_id)}\n")

    def publish_manifest(self, manifest) -> None:
        """Atomic manifest swap alone: ``str`` written verbatim, a
        ``dict`` as JSON."""
        if isinstance(manifest, dict):
            manifest = json.dumps(manifest)
        _atomic_write(self.manifest_path, manifest)

    def publish(self, manifest, retire: list[str]) -> None:
        """Atomic publish: manifest FIRST, then the RETIRED list
        (realpath per line).  Call AFTER the generation content and the
        horizon stamp."""
        self.publish_manifest(manifest)
        _atomic_write(
            self.retired_path,
            "\n".join(os.path.realpath(p) for p in retire) + "\n",
        )
