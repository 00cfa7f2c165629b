"""yupana_spark.memo: complete keys, single flight, invalidation races,
release hooks, application scope — and the owners that keep repeated
bundle constructions from piling up cache entries."""

import threading

import pytest

from tests.conftest import SF_SMALL


def test_single_flight_and_release_hooks(spark):
    import sys
    import time

    from yupana_spark import memo

    memo.invalidate("t_flight")
    calls, got, lock = {}, [], threading.Lock()

    def build(k):
        with lock:
            calls[k] = calls.get(k, 0) + 1
        time.sleep(0.002)          # a slow build: racing callers overlap
        return k * 10

    def worker():
        for k in range(20):
            got.append((k, memo.get("t_flight", (k,), lambda k=k: build(k))))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    # every caller of a key saw its one build's value; no key built twice
    assert len(got) == 16 * 20 and all(v == k * 10 for k, v in got)
    assert calls == {k: 1 for k in range(20)}
    memo.invalidate("t_flight")
    memo.get("t_flight", (1,), lambda: "v")

    released = []
    memo.get("t_flight", (2,), lambda: "w", release=released.append)
    memo.invalidate("t_flight", lambda p: p == (2,))
    assert released == ["w"]
    assert memo.peek("t_flight", (1,)) == "v"       # other entries kept
    # an owner slot releases its previous value before building the next
    memo.own("t_flight", ("slot",), lambda: "a", release=released.append)
    memo.own("t_flight", ("slot",), lambda: "b", release=released.append)
    assert released == ["w", "a"]
    assert memo.peek("t_flight", ("slot",)) == "b"
    memo.invalidate("t_flight")
    assert released == ["w", "a", "b"]


def test_invalidation_racing_a_build_is_not_inserted(spark):
    """A build that overlaps an invalidation of its kind returns its value
    to the caller but is not kept: it may have read the state the
    invalidation retired (the warehouse-write vs volume-stat race)."""
    from yupana_spark import memo

    memo.invalidate("t_race")

    def stale_build():
        memo.invalidate("t_race")          # a write lands mid-build
        return "stale"

    assert memo.get("t_race", ("k",), stale_build) == "stale"
    assert memo.peek("t_race", ("k",)) is None
    assert memo.get("t_race", ("k",), lambda: "fresh") == "fresh"
    assert memo.peek("t_race", ("k",)) == "fresh"
    memo.invalidate("t_race")


def test_gate_memo_key_carries_every_gate_param(spark, monkeypatch):
    """A caller with another threshold (or any other ladder parameter)
    prices its own rung-3 gate instead of reusing the first caller's
    decision (the r15 broadcast bound would otherwise be bypassed)."""
    import __spark_entry__ as ent
    import yupana_spark.datapipe.dedup as dd
    from yupana_spark import memo

    memo.invalidate("minhash_gate")
    priced = []

    def fake_gate(arts, banded, **gate):
        priced.append(gate)
        return gate["threshold"] < 0.6

    monkeypatch.setattr(dd, "minhash_gate_small", fake_gate)
    assert ent._minhash_gate(SF_SMALL, None, None, **ent._ND_GATE) is True
    assert ent._minhash_gate(SF_SMALL, None, None, **ent._ND_GATE) is True
    assert len(priced) == 1                       # memo hit
    other = dict(ent._ND_GATE, threshold=0.7)
    assert ent._minhash_gate(SF_SMALL, None, None, **other) is False
    assert len(priced) == 2                       # threshold: a miss
    assert ent._minhash_gate(SF_SMALL, None, None,
                             **dict(ent._ND_GATE, bands=4)) is True
    assert len(priced) == 3                       # bands: a miss
    memo.invalidate("minhash_gate")


def test_repeated_uncached_constructions_keep_storage_flat(spark):
    """Three raw (unprepared) constructions + executions of each bundle
    that persists per construction leave getRDDStorageInfo() the same
    length: each persist's owner slot holds one entry.  Counted over the
    RDDs cached since a warm-up construction (which builds the memoized
    index frames), so the ContextCleaner reaping earlier tests' garbage
    cannot move the count."""
    import __spark_entry__ as ent

    sc = spark.sparkContext

    def cached_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    def run(entry):
        entry(spark, SF_SMALL).write.format("noop").mode("overwrite").save()

    for entry in (ent.dp_neardup_scale, ent.dp_ann_approx):
        run(entry)
        before = cached_ids()
        sizes = []
        for _ in range(3):
            run(entry)
            sizes.append(len(cached_ids() - before))
        assert sizes[0] == sizes[1] == sizes[2], (entry.__name__, sizes)


@pytest.mark.parametrize("gate_small", [True, None])
def test_rung3_screened_persist_has_one_owner(spark, gate_small):
    """The ladder's screened-pair persist is released by the next
    construction even when the two constructions' plans differ (two
    corpora): Spark only dedupes identical plans, so without an owner
    every distinct construction would keep its cache entry.  Holds with
    a precomputed gate decision and on the probe path
    (``gate_small=None``, as ``filters.corpus_preprocess`` and
    ``q_stream_dedup`` call the ladder), where the bounded volume probe
    counts the pair set the memo slot persisted.  Counted over the RDDs
    cached since both corpora were built, so the ContextCleaner reaping
    earlier tests' garbage cannot move the count."""
    from yupana_spark.datapipe.dedup import (band_explode,
                                             minhash_artifacts,
                                             minhash_dedup_pairs)

    sc = spark.sparkContext
    text = "the quick brown fox jumps over the lazy dog near the river"

    def corpus(tag):
        docs = spark.createDataFrame(
            [(1, text), (2, text + " " + tag), (3, "unrelated " + tag)],
            "doc_id long, text string")
        arts = minhash_artifacts(docs).localCheckpoint(eager=True)
        banded = band_explode(arts, 32, 8, "sig").localCheckpoint(eager=True)
        return docs, arts, banded

    def cached_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    def run(docs, arts, banded):
        minhash_dedup_pairs(docs, threshold=0.5, artifacts=arts,
                            banded=banded, gate_small=gate_small).collect()
        return len(cached_ids() - before)

    a, b = corpus("alpha"), corpus("beta")
    before = cached_ids()
    after_a = run(*a)
    assert run(*b) == after_a           # b's entry replaced a's
    assert run(*a) == after_a


def test_new_spark_context_starts_with_an_empty_memo(spark, monkeypatch):
    """Entries belong to the SparkContext they were built under: the
    first call under another context sees none of them, and drops them
    without running release hooks (they would call a stopped JVM)."""
    from pyspark import SparkContext

    from yupana_spark import memo

    released = []
    memo.get("t_scope", (), lambda: "old", release=released.append)
    assert memo.peek("t_scope", ()) == "old"
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    assert memo.peek("t_scope", ()) is None
    assert memo.get("t_scope", (), lambda: "new") == "new"
    assert released == []
