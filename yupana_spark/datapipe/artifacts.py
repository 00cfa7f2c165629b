"""Warehouse persistence for fitted artifacts (train once, load forever).

Every sample-fit artifact in the engine — the unigram-LM vocabulary
(``text.unigram_lm_fit``), the KMeans / PQ / IVFADC codebooks
(``simsearch``), the BPE merge table (``bpe``), and the materialized
near-dup index frames (minhash signatures, simhash bits, exact-pair
oracles) — was memoized per *application* only (the in-process memo), so a
restarted deployment re-fit everything.  The reference materializes its
inverted index for exactly this reason
(yupana-externallinks/.../ItemsInvertedIndexImpl.scala: the index lives in
storage, not in the process); ``bpe_save``/``bpe_load`` already had the
pattern.  This module gives every artifact the same warehouse save/load:

* an :class:`ArtifactStore` is a directory of named artifacts, each a
  small ``meta.json`` plus its payload (``.npz`` numpy arrays, ``.json``
  objects, or a parquet dataset for DataFrame artifacts);
* every save records a **corpus token** — a fingerprint of the source
  table's files (name, size, mtime) — and every load checks it:
  a corpus WRITE (upsert, rollup, re-ingest) changes the fingerprint, so
  stale artifacts invalidate themselves without any explicit bookkeeping;
* loads are **zero-job**: arrays and JSON deserialize driver-side, and a
  DataFrame artifact comes back as a plain ``spark.read.parquet`` over the
  store directory — already materialized storage, no refit, no Spark job
  until the artifact is actually used (and none of the fit's
  sample/collect jobs ever).

100 TB posture: artifacts are bounded by construction (sample-fit
codebooks ~MBs, vocab <= vocab_cap rows, pair oracles capped); the ONE
possibly-large artifact — a near-dup signature index — is written as
ordinary parquet, i.e. exactly how a production deployment materializes an
index table next to its corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zipfile
from typing import Any, Dict, Optional, Tuple

import numpy as np

_META = "meta.json"
# everything a torn/corrupt payload read can raise — all degrade to a
# clean miss (refit), never a crash
_READ_ERRORS = (OSError, ValueError, EOFError, KeyError,
                zipfile.BadZipFile)


def corpus_token(*paths: str) -> str:
    """Fingerprint of the given corpus files/directories: md5 over the
    sorted (relative name, size, mtime_ns) of every regular file.  A write
    to any of them (new file, rewrite, append) changes the token; a
    missing path contributes its name only (so fixture-vs-warehouse
    overlays produce distinct tokens, and creating the table later
    invalidates)."""
    h = hashlib.md5()
    for p in sorted(paths):
        h.update(p.encode())
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for fn in sorted(files):
                    fp = os.path.join(root, fn)
                    st = os.stat(fp)
                    h.update(f"{os.path.relpath(fp, p)}|{st.st_size}|"
                             f"{st.st_mtime_ns}".encode())
        elif os.path.exists(p):
            st = os.stat(p)
            h.update(f"{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


class ArtifactStore:
    """Named fitted-artifact directory with corpus-token invalidation."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad artifact name {name!r}")
        return os.path.join(self.root, name)

    def _meta(self, name: str) -> Optional[dict]:
        try:
            with open(os.path.join(self._dir(name), _META)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    _STAGING_MAX_AGE_S = 6 * 3600
    _probe_budget = 12      # commit-race probe attempts (~4 s backoff:
    # 0.05*1.5^k capped at 0.5 -> 0.05+0.075+...+6x0.5 ≈ 4.0 s worst case)

    def _sweep_stale_staging(self) -> None:
        """Reap staging/trash dirs from CRASHED writers (the store is a
        long-lived per-host directory, so orphans would otherwise leak
        disk forever).  Age-gated: a live writer's staging dir is at most
        minutes old, so only hours-old entries are swept."""
        import time

        try:
            entries = os.scandir(self.root)
        except OSError:
            return
        now = time.time()
        for e in entries:
            if (".tmp." in e.name or ".old." in e.name):
                try:
                    if now - e.stat().st_mtime > self._STAGING_MAX_AGE_S:
                        shutil.rmtree(e.path, ignore_errors=True)
                except OSError:
                    pass

    def _begin(self, name: str) -> str:
        # writes build in a pid-suffixed staging dir and swap in at commit:
        # a crash leaves only invisible staging garbage (age-swept), and a
        # concurrent reader of the OLD artifact races a directory swap at
        # worst — which the load_* re-validation turns into a clean miss
        # (refit), not a crash or a wrong hit
        d = f"{self._dir(name)}.tmp.{os.getpid()}"
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d)
        self._sweep_stale_staging()
        return d

    def _commit(self, name: str, token: str, kind: str,
                extra: Optional[dict] = None) -> None:
        # meta written LAST inside staging, then the whole directory swaps
        # into place via move-aside + rename — a metaless or half-written
        # artifact can never load, and the OLD artifact survives a failed
        # install (restored below) instead of being destroyed
        staged = f"{self._dir(name)}.tmp.{os.getpid()}"
        meta = {"token": token, "kind": kind, "extra": extra or {}}
        with open(os.path.join(staged, _META), "w") as f:
            json.dump(meta, f)
        final = self._dir(name)
        trash = f"{final}.old.{os.getpid()}"
        try:
            if os.path.exists(final):
                os.rename(final, trash)
            os.rename(staged, final)
        except OSError:
            shutil.rmtree(staged, ignore_errors=True)
            if not os.path.exists(final) and os.path.exists(trash):
                try:                  # failed install: restore the old one
                    os.rename(trash, final)
                except OSError:
                    pass
            # A concurrent winner can be mid-swap right now (old artifact
            # moved aside, staged dir not yet installed) — the meta probe
            # would transiently see nothing and misreport a benign race as
            # a persistence failure.  Retry with backoff (~4 s total —
            # slow shared filesystems can hold a swap open well past the
            # old fixed 0.5 s) before concluding the destination is truly
            # unloadable (ENOSPC, permissions).  The probe demands the
            # CURRENT token: a restored stale OLD artifact (different
            # token) must not make a genuine install failure look like
            # success — only a concurrent winner of the same deterministic
            # fit (same name, same token, identical content) does.
            import time

            delay = 0.05
            for _ in range(self._probe_budget):
                if self._meta_if(name, token) is not None:
                    break
                time.sleep(delay)
                delay = min(delay * 1.5, 0.5)
            else:
                raise
            # else: a concurrent writer won the swap.  Fits are
            # deterministic functions of (corpus, params), so the
            # winner's artifact is identical — losing is fine.
        finally:
            shutil.rmtree(trash, ignore_errors=True)

    def valid(self, name: str, token: str) -> bool:
        return self._meta_if(name, token) is not None

    def _meta_if(self, name: str, token: str) -> Optional[dict]:
        """The meta iff present AND current — one read serves both the
        version check and the extra payload."""
        m = self._meta(name)
        return m if m is not None and m.get("token") == token else None

    # -- numpy arrays (codebooks, centers) ---------------------------------
    def save_arrays(self, name: str, token: str,
                    extra: Optional[dict] = None, **arrays) -> None:
        d = self._begin(name)
        np.savez(os.path.join(d, "arrays.npz"), **arrays)
        self._commit(name, token, "arrays", extra)

    def load_arrays(self, name: str, token: str
                    ) -> Optional[Tuple[Dict[str, np.ndarray], dict]]:
        m = self._meta_if(name, token)
        if m is None:
            return None
        try:
            with np.load(os.path.join(self._dir(name), "arrays.npz")) as z:
                out = {k: z[k] for k in z.files}
        except _READ_ERRORS:
            return None            # swapped/corrupt mid-read: miss, refit
        if self._meta_if(name, token) is None:
            return None            # swapped DURING the read (the payload
            # we just loaded belongs to a newer-token artifact): miss
        return out, m.get("extra", {})

    # -- JSON payloads (merge tables, scalars) -----------------------------
    def save_json(self, name: str, token: str, obj: Any,
                  extra: Optional[dict] = None) -> None:
        d = self._begin(name)
        with open(os.path.join(d, "data.json"), "w") as f:
            json.dump(obj, f)
        self._commit(name, token, "json", extra)

    def load_json(self, name: str, token: str
                  ) -> Optional[Tuple[Any, dict]]:
        m = self._meta_if(name, token)
        if m is None:
            return None
        try:
            with open(os.path.join(self._dir(name), "data.json")) as f:
                obj = json.load(f)
        except _READ_ERRORS:
            return None            # swapped/corrupt mid-read: miss, refit
        if self._meta_if(name, token) is None:
            return None            # swapped during the read: miss, refit
        return obj, m.get("extra", {})

    # -- DataFrame artifacts (vocab, signature index, pair oracles) --------
    def save_df(self, name: str, token: str, df,
                extra: Optional[dict] = None) -> None:
        """Materialize a bounded DataFrame artifact as parquet.  The write
        IS the one fit job; every later session reads storage.  The schema
        rides the meta so loads skip even the footer-inference job."""
        d = self._begin(name)
        df.write.mode("overwrite").parquet(os.path.join(d, "data.parquet"))
        self._commit(name, token, "df",
                     {**(extra or {}), "__schema": df.schema.json()})

    def load_df(self, spark, name: str, token: str):
        """(DataFrame, extra) or None.  ZERO Spark jobs: the schema comes
        from the meta (no footer-read job) and the parquet scan is lazy
        until the artifact is actually used.  Laziness caveat: a writer
        swapping this artifact between load and an action surfaces as a
        read error at that action — consumers either pin the frame
        (localCheckpoint) at load, or accept that a concurrent corpus
        rewrite fails the in-flight pass and the NEXT call refits
        cleanly (both postures exist in this repo; hot multi-referenced
        index frames pin, single-pass frames stay lazy)."""
        m = self._meta_if(name, token)
        if m is None:
            return None
        extra = dict(m.get("extra", {}))
        schema_json = extra.pop("__schema", None)
        reader = spark.read
        if schema_json is not None:
            from pyspark.sql import types as T

            reader = reader.schema(
                T.StructType.fromJson(json.loads(schema_json)))
        df = reader.parquet(os.path.join(self._dir(name), "data.parquet"))
        return df, extra


def artifact_name(prefix: str, *params: Any) -> str:
    """Stable artifact name from a prefix + identity params (corpus label,
    fit hyperparameters).  The params hash into the name so distinct
    corpora/configs coexist in one store; the corpus TOKEN stays out of
    the name — it is the version check, so a rewritten corpus overwrites
    its stale artifact in place instead of accumulating."""
    digest = hashlib.md5(repr(params).encode()).hexdigest()[:12]
    return f"{prefix}_{digest}"


def store_tier(form: str, prefix: str, cache_key, store, store_token,
               *params: Any, spark=None):
    """The shared store-gating guard every fit function uses: the fit's
    ``memo.Tier`` (loading ``form``: "df" into ``spark``, "arrays" or
    "json") or None unless BOTH store and token are present; persistence
    requires ``cache_key`` (the corpus identity the name hashes).
    ``params`` must carry every fit input that changes the artifact —
    hyperparameters INCLUDING iteration counts and any label identity —
    so a changed fit never silently loads a stale artifact."""
    if store is None or store_token is None:
        return None
    if cache_key is None:
        raise ValueError("store persistence requires cache_key")
    from .. import memo

    return memo.Tier(store, artifact_name(prefix, cache_key, *params),
                     store_token, form, spark)


def default_store() -> ArtifactStore:
    """Deployment-level store: ``$YUPANA_ARTIFACTS_DIR`` or a stable
    per-user tmp directory (survives Spark sessions on the same host —
    the 'restarted deployment skips every refit' contract)."""
    import tempfile

    root = os.environ.get("YUPANA_ARTIFACTS_DIR") or os.path.join(
        tempfile.gettempdir(), f"yupana_artifacts_{os.getuid()}")
    return ArtifactStore(root)
