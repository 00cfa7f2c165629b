"""Watermarked tumbling-window streaming aggregation (ingest.windowed_counts)."""

import datetime as dt
import json


def test_windowed_counts_streaming(spark, tmp_path):
    from pyspark.sql import functions as F, types as T

    from yupana_spark.streaming.ingest import windowed_counts

    src = tmp_path / "wc_src"
    src.mkdir()
    rows = [
        {"user_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click"},
        {"user_id": 2, "ts": "2024-01-01 10:25:00", "event_type": "click"},
        {"user_id": 1, "ts": "2024-01-01 11:10:00", "event_type": "view"},
    ]
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("event_type", T.StringType()),
    ])
    stream = (spark.readStream.schema(schema).json(str(src))
              .withColumn("time", F.to_timestamp("ts")))
    out = windowed_counts(stream, window="1 hour", watermark="2 hours",
                          group_cols=["event_type"])
    q = (out.writeStream.format("memory").queryName("wc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["win"]["start"], r["event_type"]): r["cnt"]
           for r in spark.sql("SELECT * FROM wc").collect()}
    assert got[(dt.datetime(2024, 1, 1, 10), "click")] == 2
    assert got[(dt.datetime(2024, 1, 1, 11), "view")] == 1


def test_stateful_running_totals(spark, tmp_path):
    from pyspark.sql import functions as F, types as T

    from yupana_spark.streaming.stateful import running_totals

    src = tmp_path / "st_src"
    src.mkdir()
    rows = [{"user_id": 1, "value": 2.0}, {"user_id": 1, "value": 3.0},
            {"user_id": 2, "value": 10.0}]
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType([T.StructField("user_id", T.LongType()),
                           T.StructField("value", T.DoubleType())])
    stream = spark.readStream.schema(schema).json(str(src))
    out = running_totals(stream, idle_timeout_ms=3000)
    q = (out.writeStream.format("memory").queryName("rt")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(30)
    q.stop()
    rows_out = spark.sql("SELECT * FROM rt").collect()
    # first batch emits running snapshots; the idle timeout then closes keys
    running = {r["key"]: (r["n_events"], r["total"])
               for r in rows_out if not r["closed"]}
    assert running[1] == (2, 5.0) and running[2] == (1, 10.0)
    closed = {r["key"] for r in rows_out if r["closed"]}
    assert closed <= {1, 2}  # closes fire if a timeout batch ran


def test_stream_dedup(spark, tmp_path):
    from pyspark.sql import functions as F, types as T

    from yupana_spark.streaming.ingest import stream_dedup

    src = tmp_path / "sd_src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "v": 1.0},
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "v": 2.0},  # repeat
        {"event_id": 2, "ts": "2024-01-01 10:10:00", "v": 3.0},
        {"event_id": 2, "ts": "2024-01-01 10:10:00", "v": 3.0},  # repeat
        {"event_id": 3, "ts": "2024-01-01 10:20:00", "v": 4.0},
    ]
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    stream = (spark.readStream.schema(schema).json(str(src))
              .withColumn("time", F.to_timestamp("ts")))
    out = stream_dedup(stream, ["event_id"])
    q = (out.writeStream.format("memory").queryName("sd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM sd").collect())
    assert got == [1, 2, 3]  # one row per key within the horizon


def test_stream_dedup_entry_verdict(spark):
    """The driver entry runs a real availableNow streaming query over the
    doubled events fixture and its conservation rows must agree with a
    batch-computed exact distinct count."""
    import __spark_entry__ as ent
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {r["chk"]: r["val"]
           for r in ent.queries()["q_stream_dedup"](spark, sf).collect()}
    agg = (spark.read.parquet(f"{sf}/events.parquet")
           .filter("ts >= TIMESTAMP '2024-01-01' "
                   "AND ts < TIMESTAMP '2024-01-08'")
           .agg(F.countDistinct("event_id").alias("d"),
                F.count("*").alias("n"),
                F.countDistinct(F.date_trunc("hour", "ts")).alias("w"),
                F.countDistinct("user_id").alias("u"))
           .collect()[0])
    assert got == {"distinct_keys": agg["d"],
                   "dup_rows_in_output": 0,
                   "saw_duplicates": 1,
                   "windowed_rows_conserved": 2 * agg["n"],
                   "windowed_n_windows": agg["w"],
                   "stateful_rows_conserved": 2 * agg["n"],
                   "stateful_n_keys": agg["u"],
                   "lsh_batch_minus_streaming": 0,
                   "lsh_streaming_saw_pairs": 1,
                   "domcap_stream_vs_batch_diff": 0,
                   "domcap_admitted": got["domcap_admitted"],
                   "annprobe_stream_vs_batch_diff": 0,
                   "annprobe_query_probed": 1,
                   "semprobe_stream_vs_batch_diff": 0,
                   "semprobe_planted_dup_found": 1}
    assert agg["d"] > 0
    # the admitted count matches an independent batch recomputation of
    # sum(min(8, |domain|)) under the same URL injection rule
    dom = F.concat(F.col("source"),
                   F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
                    .otherwise(F.lit(".com")))
    want = (spark.read.parquet(f"{sf}/documents.parquet")
            .groupBy(dom.alias("d")).count()
            .agg(F.sum(F.least(F.col("count"), F.lit(8)))).collect()[0][0])
    assert got["domcap_admitted"] == want > 0


def test_streaming_neardup_idle_eviction(spark, tmp_path):
    """The idle_timeout_ms horizon knob: a bucket idle past the horizon is
    evicted (ProcessingTimeTimeout -> hasTimedOut -> state.remove), so a
    near-dup of an evicted member is NOT re-found — while within the
    horizon the same pair IS found, proving the negative is eviction, not
    a broken construction.

    LOAD-IMMUNE by construction (review r11: the old form raced a 1.5 s
    wall-clock horizon against micro-batch scheduling and flaked under
    concurrent Spark load).  The eviction phase uses only EVENTUALLY-true
    waits — doc 2 is written strictly after eviction is observed, and its
    processing is detected by cumulative per-batch input counts (not by
    catching a transient state-row snapshot).  The within-horizon
    positive runs as its OWN query with a 10-minute horizon, so no
    scheduling pause can evict before the pair is found."""
    import json
    import time

    from pyspark.sql import types as T

    from yupana_spark.streaming.neardup import streaming_neardup_pairs

    text = "spark stream bucket shingle minhash corpus window state band"
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    def put(d, name, doc_id):
        (d / name).write_text(json.dumps({"doc_id": doc_id, "text": text}))

    def wait(pred, timeout=120):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.3)
        return False

    class Progress:
        """Cumulative view over q.recentProgress (entries roll off at
        100, so scan incrementally by batchId)."""

        def __init__(self, q):
            self.q, self.batches, self.inputs, self.saw8 = q, set(), 0, False
            self.state = -1

        def poll(self):
            for p in self.q.recentProgress:
                if p["batchId"] in self.batches:
                    continue
                self.batches.add(p["batchId"])
                self.inputs += p["numInputRows"]
                if p.get("stateOperators"):
                    self.state = p["stateOperators"][0]["numRowsTotal"]
                    self.saw8 = self.saw8 or self.state == 8
            return self

    # --- phase A: eviction (short horizon; only lower-bound waits) ----
    src = tmp_path / "ev_src"
    src.mkdir()
    put(src, "f1.json", 1)
    stream = spark.readStream.schema(schema).json(str(src))
    out = streaming_neardup_pairs(stream, threshold=0.5,
                                  idle_timeout_ms=1500)
    # NOTE: under ProcessingTimeTimeout the engine keeps scheduling
    # timeout micro-batches, so processAllAvailable never sees the query
    # go idle — progress is observed by polling instead
    q = (out.writeStream.format("memory").queryName("ev")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ev_ck"))
         .trigger(processingTime="300 milliseconds").start())
    tr = Progress(q)
    try:
        # doc 1 lands in its 8 band buckets (recorded from ANY progress
        # entry, so a fast early eviction cannot hide it) ...
        assert wait(lambda: tr.poll().saw8), "doc 1 never entered state"
        # ... then the idle horizon passes and the timeout evicts them
        assert wait(lambda: tr.poll().state == 0), "state never evicted"
        # doc 2 is written ONLY NOW — member 1 is provably gone first
        put(src, "f2.json", 2)      # identical text -> same buckets
        assert wait(lambda: tr.poll().inputs >= 2), "doc 2 never processed"
        pairs = {(r["id_a"], r["id_b"]) for r in spark.table("ev").collect()}
        assert (1, 2) not in pairs  # member 1 was evicted
    finally:
        q.stop()
        spark.catalog.dropTempView("ev")

    # --- phase B: construction intact WITHIN the horizon (own query,
    # 10-minute horizon: no load pause can evict first) ---------------
    src2 = tmp_path / "ev_src2"
    src2.mkdir()
    put(src2, "f2.json", 2)
    put(src2, "f3.json", 3)
    stream2 = spark.readStream.schema(schema).json(str(src2))
    out2 = streaming_neardup_pairs(stream2, threshold=0.5,
                                   idle_timeout_ms=600_000)
    q2 = (out2.writeStream.format("memory").queryName("ev2")
          .outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ev_ck2"))
          .trigger(processingTime="300 milliseconds").start())
    try:
        assert wait(lambda: (2, 3) in {(r["id_a"], r["id_b"])
                                       for r in spark.table("ev2").collect()}
                    ), "within-horizon pair never found"
    finally:
        q2.stop()
        spark.catalog.dropTempView("ev2")


def test_streaming_neardup_superset_of_batch(spark, tmp_path):
    """Online MinHash-LSH (per-bucket state, exact-verify on arrival): an
    availableNow replay over a static corpus must yield a sound superset of
    the batch LSH pairs — batch ⊆ streaming (streaming has no rung-2
    screen to drop borderline pairs), and every streamed pair's exact
    char-5-gram Jaccard clears the threshold."""
    import random

    from pyspark.sql import functions as F

    from yupana_spark.datapipe.dedup import minhash_dedup_pairs
    from yupana_spark.streaming.neardup import streaming_neardup_pairs

    rng = random.Random(99)
    vocab = ["spark", "stream", "bucket", "shingle", "minhash", "corpus",
             "window", "state", "jaccard", "band"]
    docs = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 30))]
        docs.append((i, " ".join(words)))
    base = docs[4][1]
    docs += [(500, base),                                  # exact copy
             (501, base.replace("spark", "flink", 1)),     # near copy
             (502, docs[7][1] + " tail")]                  # near copy
    ddf = spark.createDataFrame(docs, "doc_id long, text string")

    # two chunks -> at least two micro-batches; pairs must be found even
    # when the two members arrive in different batches (4 vs 500/501 split)
    src = tmp_path / "nd_src"
    src.mkdir()
    first = [d for d in docs if d[0] < 250]
    second = [d for d in docs if d[0] >= 250]
    spark.createDataFrame(first, ddf.schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    spark.createDataFrame(second, ddf.schema).coalesce(1) \
        .write.parquet(str(src / "b"))
    stream = (spark.readStream.schema(ddf.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    out = streaming_neardup_pairs(stream, threshold=0.5)
    q = (out.writeStream.format("memory").queryName("nd")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "nd_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in spark.table("nd").dropDuplicates(
                    ["id_a", "id_b"]).collect()}
    batch = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_dedup_pairs(ddf, threshold=0.5).collect()}
    assert batch, "fixture must contain near-dups"
    assert set(batch) <= set(streamed)       # completeness vs batch
    for pair, j in batch.items():            # same exact-Jaccard values
        assert streamed[pair] == j
    assert all(j >= 0.5 for j in streamed.values())  # soundness
    assert (4, 500) in streamed and streamed[(4, 500)] == 1.0


def test_streaming_corpus_filter_matches_batch(spark, tmp_path):
    """Online keep/drop (streaming/filters.py): on an id-ordered replay of
    a static corpus the streamed decisions must EQUAL the batch
    corpus_keep decisions — row-local rules are shared Column expressions,
    dup flagging by arrival order coincides with min-id on an ordered
    replay, and decontamination matches because both sides use the same
    n-gram definition."""
    from pyspark.sql import types as T

    from yupana_spark.datapipe.filters import corpus_keep
    from yupana_spark.streaming.filters import streaming_corpus_filter

    good = ("the quick brown fox jumps over the lazy dog and runs far "
            "into the quiet green field for a long while today")
    extra = ("a small red bird sits on the old stone wall and sings a "
             "soft song to the bright morning sun above the hills")
    loop = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, good), (2, extra),
        (3, "der hund und die katze sind mit dem auto zu dem haus "
            "gefahren und bleiben dort mit den kindern"),
        (4, "!!! ??? ### $$$ %%%"),
        (5, good),                 # duplicate of 1, later chunk
        (6, loop.strip()),         # degenerate repetition, in-domain words
        (7, "• the first item\n• the second item\n• the third item"),
    ]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    evals = spark.createDataFrame([(99, extra)], schema)
    # CCNet perplexity rule in BOTH twins: LM fit on the English rows, a
    # threshold between in-domain and out-of-domain xent, decisions pinned
    from yupana_spark.datapipe.ppx import bigram_lm_fit, bigram_xent_scores

    ref = spark.createDataFrame([(0, good), (1, extra)], schema)
    ppx_art = bigram_lm_fit(ref)
    xs = {r["id"]: r["big_xent"]
          for r in bigram_xent_scores(docs, ppx_art).collect()}
    assert xs[1] < xs[3]            # in-domain beats German text
    thr = (xs[1] + xs[3]) / 2
    batch = {r["id"]: (r["keep"], r["reasons"])
             for r in corpus_keep(docs, min_quality=0.7, langs=("en",),
                                  eval_docs=evals, ppx_art=ppx_art,
                                  max_xent=thr, rep_rule=True).collect()}
    assert "perplexity" in batch[3][1]
    assert "perplexity" not in batch[1][1]
    # Gopher repetition/shape rule: the word loop trips the duplicate-word
    # bar, the bullet list trips the 90% bullet-line bar; the clean rows
    # never fire it
    assert "repetition" in batch[6][1] and "repetition" in batch[7][1]
    assert all("repetition" not in batch[i][1] for i in (1, 2, 3, 5))

    src = tmp_path / "cf_src"
    src.mkdir()
    # chunked so the repetition rows arrive in a LATER micro-batch than
    # the rows they must not perturb
    spark.createDataFrame(rows[:3], schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    spark.createDataFrame(rows[3:5], schema).coalesce(1) \
        .write.parquet(str(src / "b"))
    spark.createDataFrame(rows[5:], schema).coalesce(1) \
        .write.parquet(str(src / "c"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = streaming_corpus_filter(stream, min_quality=0.7, langs=("en",),
                                  eval_docs=evals, ppx_art=ppx_art,
                                  max_xent=thr, rep_rule=True)
    q = (out.writeStream.format("memory").queryName("cf")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cf_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["id"]: (r["keep"], r["reasons"])
                    for r in spark.table("cf").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("cf")
    assert streamed == batch
    assert streamed[5][0] is False and "duplicate" in streamed[5][1]
    assert streamed[2] == (False, "contaminated")
    assert streamed[3] == (False, "lang,perplexity")


def test_streaming_bm25_matches_batch(spark, tmp_path):
    """Streaming BM25 probing (streaming/retrieval.py): a chunked replay
    of a static corpus scored against a probe fitted on a REFERENCE
    corpus yields exactly the batch row-local scores — and a brand-new
    document containing an unseen query term scores positive (maximal
    idf), the case a corpus-derived scorer cannot handle online."""
    from pyspark.sql import functions as F, types as T

    from yupana_spark.datapipe.retrieval import (bm25_probe_fit,
                                                 bm25_score_col)
    from yupana_spark.datapipe.text import normalize_text, words
    from yupana_spark.streaming.retrieval import streaming_bm25_scores

    schema = "doc_id long, text string"
    ref = spark.createDataFrame(
        [(0, "data table scan fast merge row"),
         (1, "slow scan of the old data store"),
         (2, "merge sort and hash join plans")], schema)
    probe = bm25_probe_fit(ref, "scan merge qqnovel")
    rows = [(10, "a fast scan then a merge"),
            (11, "nothing relevant at all here"),
            (12, "qqnovel appears only in the stream"),
            (13, "scan scan scan scan")]
    docs = spark.createDataFrame(rows, schema)
    batch = {r["doc_id"]: r["s"] for r in docs.withColumn(
        "__w", words(normalize_text(F.col("text"))))
        .select("doc_id", bm25_score_col(F.col("__w"), probe).alias("s"))
        .collect()}
    assert batch[10] > 0 and batch[11] == 0.0 and batch[12] > 0
    src = tmp_path / "bm_src"
    src.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    spark.createDataFrame(rows[2:], schema).coalesce(1) \
        .write.parquet(str(src / "b"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = streaming_bm25_scores(stream, probe)
    q = (out.writeStream.format("memory").queryName("bm")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "bm_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["id"]: r["bm25"]
                    for r in spark.table("bm").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("bm")
    assert streamed == batch


def test_streaming_dsir_scores_match_batch(spark, tmp_path):
    """Streaming DSIR scoring (frozen bucket-LM artifact + row-local
    fold): a chunked replay scores every document EXACTLY as the batch
    row-local path — and the batch row-local path is already pinned
    against the explode+join estimator, closing the triangle.  The fit
    must be the train-once artifact (cache_key required)."""
    from pyspark.sql import types as T

    from yupana_spark.datapipe.artifacts import ArtifactStore
    from yupana_spark.datapipe.dsir import dsir_log_weights
    from yupana_spark.streaming.retrieval import streaming_dsir_scores

    rows = [(1, "spark shuffle join window aggregate state"),
            (2, "violets bloom beside quiet rivers today"),
            (3, "spark window state checkpoint replay"),
            (4, "   "),
            (5, "cat")]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    target = spark.createDataFrame([(9, "spark shuffle join window")],
                                   schema)
    store = ArtifactStore(str(tmp_path / "arts"))
    kw = dict(n_buckets=128, alpha=0.5, cache_key="sd", store=store,
              store_token="tok")
    batch = {r["doc_id"]: (r["logw"], r["n_grams"])
             for r in dsir_log_weights(docs, target, docs, row_local=True,
                                       **kw).collect()}
    assert set(batch) == {1, 2, 3, 5}     # zero-gram doc 4 omitted

    src = tmp_path / "sd_src"
    src.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    spark.createDataFrame(rows[2:], schema).coalesce(1) \
        .write.parquet(str(src / "b"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = streaming_dsir_scores(stream, target, docs, **kw)
    q = (out.writeStream.format("memory").queryName("sds")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sd_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        # decision-frame convention: the id column is named 'id'
        streamed = {r["id"]: (r["logw"], r["n_grams"])
                    for r in spark.table("sds").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("sds")
    assert streamed == batch              # exact: same Column expression
    # the fit is a frozen artifact — no cache_key, no streaming scorer
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cache_key"):
        streaming_dsir_scores(stream, target, docs, n_buckets=128)


def test_streaming_decontaminate_cut_matches_batch(spark, tmp_path):
    """Online contamination removal: a chunked replay of a static corpus
    yields the batch decontaminate_cut rows EXACTLY — same JVM gram
    hashes decide membership, same window-cut law, same repr-HALF_UP
    rounding; NULL text rides as the empty document."""
    from pyspark.sql import types as T

    from yupana_spark.datapipe.dedup import decontaminate_cut
    from yupana_spark.streaming.filters import streaming_decontaminate_cut

    schema = "doc_id long, text string"
    ev_text = "alpha beta gamma delta"
    rows = [(1, f"intro words then {ev_text} and a clean tail here"),
            (2, "totally unrelated content nothing shared at all"),
            (3, ev_text),
            (4, None),
            (5, f"{ev_text} {ev_text} double leak")]
    docs = spark.createDataFrame(rows, schema)
    ev = spark.createDataFrame([(99, ev_text)], schema)
    batch = {r["id"]: (r["dc_n_words"], r["dc_n_cut_words"],
                       r["dc_cut_word_ratio"], r["dc_cleaned"])
             for r in decontaminate_cut(docs, ev, n=4).collect()}
    assert batch[1][1] == 4 and batch[3][3] == "" and batch[4][0] == 0
    src = tmp_path / "dcs_src"
    src.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    spark.createDataFrame(rows[2:], schema).coalesce(1) \
        .write.parquet(str(src / "b"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = streaming_decontaminate_cut(stream, ev, n=4)
    q = (out.writeStream.format("memory").queryName("dcs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dcs_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["id"]: (r["dc_n_words"], r["dc_n_cut_words"],
                              r["dc_cut_word_ratio"], r["dc_cleaned"])
                    for r in spark.table("dcs").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("dcs")
    assert streamed == batch


def test_streaming_neardup_event_time_eviction(spark, tmp_path):
    """EventTimeTimeout horizon (r6 verdict ask #3): eviction keyed to the
    WATERMARK, so the eviction set is a function of the data + batch
    boundaries, not wall-clock pacing.  The same 5-file replay runs (a)
    fast (availableNow) and (b) slow (processingTime trigger) — identical
    pair sets both times, with the past-horizon pair evicted in both —
    while (c) the same data under ProcessingTimeTimeout with the same
    horizon finds the past-horizon pair (nothing evicts in a fast replay),
    demonstrating exactly the wall-clock dependence event time removes."""
    import json
    import os
    import time

    from pyspark.sql import types as T

    from yupana_spark.streaming.neardup import streaming_neardup_pairs

    a_text = "spark stream bucket shingle minhash corpus window state band"
    u1 = "totally different words about databases indexes columns rows"
    u2 = "another unrelated blob regarding compilers parsers grammars"
    docs = [  # (doc_id, text, event ts); horizon = 1h
        (1, a_text, "2024-01-01 00:00:00"),   # first member of bucket A
        (50, u1, "2024-01-01 03:00:00"),      # advances watermark past 1h
        (51, u2, "2024-01-01 03:00:30"),      # idle batch -> A evicted
        (3, a_text, "2024-01-01 03:01:00"),   # near-dup of EVICTED 1
        (4, a_text, "2024-01-01 03:02:00"),   # near-dup of LIVE 3
    ]
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    src = tmp_path / "et_src"
    src.mkdir()
    for i, (did, txt, ts) in enumerate(docs):
        p = src / f"f{i}.json"
        p.write_text(json.dumps({"doc_id": did, "text": txt, "ts": ts}))
        os.utime(p, (1000 + i, 1000 + i))    # pin file processing order

    def run(name, trigger, event_time=True, wait_for=(3, 4)):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        stream = stream.withWatermark("ts", "0 seconds")
        out = streaming_neardup_pairs(
            stream, threshold=0.5, idle_timeout_ms=3_600_000,
            event_time_col="ts" if event_time else None)
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
             .trigger(**trigger).start())
        try:
            # poll rather than awaitTermination: under ProcessingTime-
            # Timeout the engine keeps scheduling timeout micro-batches,
            # so even an availableNow query need not terminate promptly
            t0 = time.time()
            while time.time() - t0 < 150:
                got = {(r["id_a"], r["id_b"])
                       for r in spark.table(name).collect()}
                if wait_for in got:
                    break
                time.sleep(0.4)
            time.sleep(1.0)              # grace: let trailing rows land
            return {(r["id_a"], r["id_b"])
                    for r in spark.table(name).collect()}
        finally:
            q.stop()
            spark.catalog.dropTempView(name)

    fast = run("et_fast", {"availableNow": True})
    slow = run("et_slow", {"processingTime": "2 seconds"})
    assert fast == slow == {(3, 4)}          # pacing-independent evictions
    assert (1, 3) not in fast and (1, 4) not in fast   # horizon enforced
    # contrast: PROCESSING-time horizon on the same replay evicts nothing
    # (wall clock never reaches 1h), so the past-horizon pairs appear
    wall = run("et_wall", {"availableNow": True}, event_time=False,
               wait_for=(3, 4))
    assert {(1, 3), (1, 4), (3, 4)} <= wall


def test_streaming_corpus_filter_event_time_knob(spark, tmp_path):
    """The corpus filter's event-time horizon: a re-sent fingerprint past
    the event-time horizon is NOT flagged duplicate (state evicted by
    watermark), and the knob validates its preconditions."""
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from yupana_spark.streaming.filters import streaming_corpus_filter

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different filler content for watermark advancement"
    rows = [
        (1, text, "2024-01-01 00:00:00"),
        (60, other, "2024-01-01 03:00:00"),   # watermark past horizon
        (61, other + " two", "2024-01-01 03:00:30"),  # idle batch: evict
        (2, text, "2024-01-01 03:01:00"),     # same fp, state evicted
        (3, text, "2024-01-01 03:02:00"),     # dup of LIVE 2
    ]
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    src = tmp_path / "cf_src"
    src.mkdir()
    for i, (did, txt, ts) in enumerate(rows):
        p = src / f"f{i}.json"
        p.write_text(json.dumps({"doc_id": did, "text": txt, "ts": ts}))
        os.utime(p, (1000 + i, 1000 + i))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src))
              .withWatermark("ts", "0 seconds"))
    out = streaming_corpus_filter(stream, langs=None, min_quality=0.0,
                                  idle_timeout_ms=3_600_000,
                                  event_time_col="ts")
    q = (out.writeStream.format("memory").queryName("cf_et")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cf_et_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        got = {r["id"]: r["reasons"] for r in spark.table("cf_et").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("cf_et")
    assert "duplicate" not in got[1]
    assert "duplicate" not in got[2]          # doc 1's state was evicted
    assert "duplicate" in got[3]              # doc 2 is live
    with pytest.raises(ValueError, match="idle_timeout_ms"):
        streaming_corpus_filter(stream, event_time_col="ts")


def test_corpus_filter_model_quality_twins(spark, tmp_path):
    """The model-quality (LR classifier) rule in the composed filter:
    batch and streaming twins produce IDENTICAL decisions with the rule
    on, the 'model_quality' label lands in alphabetical position, and
    disabling the rule (lr_art=None) restores the old decisions."""
    from pyspark.sql import types as T

    from pyspark.sql import functions as F

    from yupana_spark.datapipe.classify import (quality_lr_features,
                                                quality_lr_fit)
    from yupana_spark.datapipe.filters import corpus_keep
    from yupana_spark.streaming.filters import streaming_corpus_filter

    fixture = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    # fit on the real fixture (bounded sample) with the variance-bearing
    # label (the default heuristic is all-positive on this corpus);
    # score a tiny replay corpus
    lab = quality_lr_features(F.col("text"))["stopword_ratio"] >= 0.03
    art = quality_lr_fit(fixture, label=lab)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far "
            "into the quiet green field for a long while today"),
        (2, "zzz qqq xxx vvv kkk www yyy hhh jjj fff ggg ddd sss aaa "
            "bbb ccc eee rrr ttt uuu iii ooo ppp lll mmm nnn"),
        (3, "!!! ??? ### $$$"),
    ]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    with_lr = {r["id"]: (r["keep"], r["reasons"])
               for r in corpus_keep(docs, min_quality=0.0, langs=None,
                                    lr_art=art, min_lr=0.5).collect()}
    without = {r["id"]: (r["keep"], r["reasons"])
               for r in corpus_keep(docs, min_quality=0.0,
                                    langs=None).collect()}
    # the rule must actually fire somewhere and nowhere else change
    fired = {i for i, (_, rs) in with_lr.items() if "model_quality" in rs}
    assert fired, "LR rule never fired on the adversarial docs"
    for i in with_lr:
        stripped = ",".join(x for x in with_lr[i][1].split(",")
                            if x and x != "model_quality")
        assert stripped == without[i][1]
    # streaming twin: identical decisions
    src = tmp_path / "mq_src"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(src / "a"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .parquet(str(src / "*")))
    out = streaming_corpus_filter(stream, min_quality=0.0, langs=None,
                                  lr_art=art, min_lr=0.5)
    q = (out.writeStream.format("memory").queryName("mq")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "mq_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["id"]: (r["keep"], r["reasons"])
                    for r in spark.table("mq").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("mq")
    assert streamed == with_lr


def test_streaming_asof_matches_batch_on_ordered_replay(spark, tmp_path):
    """Law (same contract as the near-dup/filter twins): on an event-time-
    ordered replay, the streaming as-of join's per-event matches equal the
    batch asof_join's — state carries the newest reference row across
    micro-batch boundaries."""
    import json

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from yupana_spark.datapipe.align import asof_join
    from yupana_spark.streaming.align import streaming_asof_join

    ev = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
          .filter("user_id < 20"))
    clicks = ev.filter("event_type = 'click'") \
        .select("event_id", "user_id", "ts", "value")
    purch = (ev.filter("event_type = 'purchase'")
             .groupBy("user_id", "ts").agg(F.max("value").alias("rv")))

    # ordered replay in 3 file chunks (json preserves micro ts as string)
    rows = sorted(
        [{"event_id": r["event_id"], "user_id": r["user_id"],
          "ts": r["ts"].isoformat(sep=" "), "value": r["value"],
          "side": 1, "rv": None} for r in clicks.collect()]
        + [{"event_id": None, "user_id": r["user_id"],
            "ts": r["ts"].isoformat(sep=" "), "value": None,
            "side": 0, "rv": r["rv"]} for r in purch.collect()],
        key=lambda d: (d["ts"], d["side"]))
    src = tmp_path / "asof_src"
    src.mkdir()
    third = (len(rows) + 2) // 3
    import os
    import time as _time

    base = _time.time() - 3600
    for i in range(3):
        p = src / f"chunk{i}.json"
        with open(p, "w") as f:
            for d in rows[i * third:(i + 1) * third]:
                f.write(json.dumps(d) + "\n")
        # FileStreamSource replays in MODIFICATION-TIME order; files
        # written within the same millisecond tie and the replay order
        # (hence the ordered-replay law) becomes nondeterministic
        os.utime(p, (base + i, base + i))

    schema = ("event_id long, user_id long, ts timestamp, value double, "
              "side int, rv double")
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .json(str(src)))
    out = streaming_asof_join(
        stream.filter("side = 1").select("event_id", "user_id", "ts",
                                         "value"),
        stream.filter("side = 0").select("user_id", "ts", "rv"),
        on="ts", by="user_id", id_col="event_id",
        left_val="value", right_val="rv")
    q = (out.writeStream.format("memory").queryName("sa")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: (r["ts_r"], r["rv_r"])
           for r in spark.sql("SELECT * FROM sa").collect()}

    want_df = asof_join(clicks, purch, on="ts", by=["user_id"],
                        value_cols=["rv"])
    want = {r["event_id"]: (r["ts_r"], r["rv_r"])
            for r in want_df.collect()}
    assert len(got) == clicks.count()
    assert got == want
    # non-vacuity: some matched, some unmatched
    assert any(v[0] is not None for v in got.values())


def test_streaming_asof_null_value_and_nat_rows(spark, tmp_path):
    """A matched reference row with NULL value yields NULL (not NaN); NaT
    times in either stream neither kill the query (merge_asof raises on
    NaT keys) nor match anything (review findings r9)."""
    import json

    from yupana_spark.streaming.align import streaming_asof_join

    rows = [
        {"event_id": None, "user_id": 1, "ts": "2024-01-01 00:00:01",
         "value": None, "side": 0, "rv": None},       # NULL-valued ref
        {"event_id": None, "user_id": 1, "ts": None,
         "value": None, "side": 0, "rv": 5.0},        # NaT ref: dropped
        {"event_id": 1, "user_id": 1, "ts": "2024-01-01 00:00:02",
         "value": 1.0, "side": 1, "rv": None},        # matches NULL ref
        {"event_id": 2, "user_id": 1, "ts": None,
         "value": 2.0, "side": 1, "rv": None},        # NaT left: no match
    ]
    src = tmp_path / "asof_null_src"
    src.mkdir()
    with open(src / "all.json", "w") as f:
        for d in rows:
            f.write(json.dumps(d) + "\n")
    schema = ("event_id long, user_id long, ts timestamp, value double, "
              "side int, rv double")
    stream = spark.readStream.schema(schema).json(str(src))
    out = streaming_asof_join(
        stream.filter("side = 1").select("event_id", "user_id", "ts",
                                         "value"),
        stream.filter("side = 0").select("user_id", "ts", "rv"),
        on="ts", by="user_id", id_col="event_id",
        left_val="value", right_val="rv")
    q = (out.writeStream.format("memory").queryName("san")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: r for r in spark.sql("SELECT * FROM san").collect()}
    assert set(got) == {1, 2}
    m = got[1]
    assert m["ts_r"] is not None                      # matched the NULL ref
    assert m["rv_r"] is None and m["rv_r"] is not float("nan")
    assert got[2]["ts_r"] is None and got[2]["rv_r"] is None


def test_streaming_interval_join_stream_static(spark, tmp_path):
    """interval_join works UNCHANGED on a streaming events frame against a
    static intervals frame: the bin quantization is a stateless projection
    and the containment is an equi-join + residual, both natively
    streamable (no new operator needed) — streamed rows == batch rows."""
    import json

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from yupana_spark.datapipe.align import interval_join

    ev = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
          .filter("user_id < 20"))
    clicks = ev.filter("event_type = 'click'") \
        .select("event_id", "user_id", "ts", "value")
    iv = (ev.filter("event_type = 'purchase'")
          .groupBy("user_id", "ts").agg(F.max("value").alias("rv"))
          .select("user_id", F.col("ts").alias("start"),
                  (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end"),
                  "rv").cache())

    src = tmp_path / "ivj_src"
    src.mkdir()
    with open(src / "clicks.json", "w") as f:
        for r in clicks.collect():
            f.write(json.dumps({"event_id": r["event_id"],
                                "user_id": r["user_id"],
                                "ts": r["ts"].isoformat(sep=" "),
                                "value": r["value"]}) + "\n")
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).json(str(src))
    out = interval_join(stream, iv, t_col="ts", start_col="start",
                        end_col="end", by=["user_id"],
                        bin_width=6 * 3600.0) \
        .select("event_id", "start", "rv")
    q = (out.writeStream.format("memory").queryName("ivj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["start"], r["rv"])
           for r in spark.sql("SELECT * FROM ivj").collect()}
    want = {(r["event_id"], r["start"], r["rv"])
            for r in interval_join(clicks, iv, t_col="ts",
                                   start_col="start", end_col="end",
                                   by=["user_id"], bin_width=6 * 3600.0)
            .select("event_id", "start", "rv").collect()}
    assert got == want and len(got) > 0


def test_streaming_c4_rule_matches_batch(spark, tmp_path):
    """The composed C4 page rule: batch corpus_keep(c4_rule=True) and the
    streaming twin agree row-for-row; 'c4' sorts first in reasons."""
    from pyspark.sql import types as T

    from yupana_spark.datapipe.filters import corpus_keep
    from yupana_spark.streaming.filters import streaming_corpus_filter

    rows = [
        (1, "the cat sat on the mat today.\nthe dog barked at the moon!\n"
            "a third good sentence closes this out."),   # passes C4
        (2, "the quick brown fox jumps over the lazy dog and runs far "
            "into the quiet green field without punctuation"),  # nsent 0
        (3, "a fine first sentence sits here.\nsecond one follows right "
            "behind!\nthird one too?\nbut lorem ipsum spoils the page."),
    ]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    batch = {r["id"]: (r["keep"], r["reasons"])
             for r in corpus_keep(docs, min_quality=0.0, langs=None,
                                  c4_rule=True).collect()}
    assert batch[1] == (True, "")
    assert batch[2] == (False, "c4")
    assert batch[3] == (False, "c4")

    src = tmp_path / "c4_src"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())]))
              .parquet(str(src / "*")))
    out = streaming_corpus_filter(stream, min_quality=0.0, langs=None,
                                  c4_rule=True)
    q = (out.writeStream.format("memory").queryName("c4f")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "c4_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["id"]: (r["keep"], r["reasons"])
                    for r in spark.table("c4f").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("c4f")
    assert streamed == batch


def test_streaming_url_curation_and_gopher_fracs_match_batch(spark,
                                                             tmp_path):
    """The r12 row-local operators really are stream-safe: registered-
    domain extraction + blocklist flags (curation.py) and the Gopher
    top/dup n-gram char-mass folds (text.ngram_char_frac_cols) are pure
    Column expressions, so an availableNow replay of a static corpus
    must yield EXACTLY the batch frame — no state, no watermark, no
    twin implementation to drift."""
    from pyspark.sql import functions as F, types as T

    from yupana_spark.datapipe.curation import url_blocklist_flags
    from yupana_spark.datapipe.text import ngram_char_frac_cols, words

    rows = [
        (1, "https://www.News.Site.co.uk:443/a?x=1", "ab cd ab cd ab"),
        (2, "HTTP://u:pw@blog.example.com./p", "x y x y x y x y"),
        (3, "spam.tracker.net/landing", "one two"),
        (4, None, None),
    ]
    schema = "doc_id long, url string, text string"
    blocked = spark.createDataFrame([("https://Tracker.NET/x",)],
                                    "domain string")

    def pipeline(df):
        flagged = url_blocklist_flags(df, blocked)
        w = words(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        return flagged.select(
            "doc_id", "domain", "url_blocked",
            *ngram_char_frac_cols(w, F.length(F.coalesce(F.col("text"),
                                                         F.lit(""))),
                                  [(2, "top", "top2"), (5, "dup", "dup5")]))

    batch = {r["doc_id"]: (r["domain"], r["url_blocked"],
                           r["top2"], r["dup5"])
             for r in pipeline(spark.createDataFrame(rows, schema))
             .collect()}
    assert batch[1] == ("site.co.uk", False, round(2 * 5 / 14, 6), 0.0)
    assert batch[2][:2] == ("example.com", False) and batch[2][3] == 1.0
    # a 2-word doc's only bigram covers the whole text -> top2 == 1.0
    assert batch[3] == ("tracker.net", True, 1.0, 0.0)
    assert batch[4] == ("", False, 0.0, 0.0)

    src = tmp_path / "uc_src"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(str(src / "a"))
    stream = (spark.readStream
              .schema(T.StructType([
                  T.StructField("doc_id", T.LongType()),
                  T.StructField("url", T.StringType()),
                  T.StructField("text", T.StringType())]))
              .parquet(str(src / "*")))
    q = (pipeline(stream).writeStream.format("memory").queryName("uc")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "uc_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        streamed = {r["doc_id"]: (r["domain"], r["url_blocked"],
                                  r["top2"], r["dup5"])
                    for r in spark.table("uc").collect()}
    finally:
        q.stop()
        spark.catalog.dropTempView("uc")
    assert streamed == batch
