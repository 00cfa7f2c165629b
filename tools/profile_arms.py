"""Arm-level profiler for the heavy bench entries (guide §1: measure first).

Times each sub-pipeline of dp_neardup_scale / dp_lang_id / dp_text_stats
with the same noop-write action bench.py uses, min over PASSES passes after
one warm-up, inside ONE warm session so fixed JVM costs cancel.

Usage: python tools/profile_arms.py [neardup|langid|textstats|headline] ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yupana_spark import memo  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PASSES = int(os.environ.get("PROFILE_PASSES", "3"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(name, df_fn):
    _noop(df_fn())  # warm-up
    best = None
    for _ in range(PASSES):
        t0 = time.time()
        _noop(df_fn())
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {name:32s} {best:7.3f} s")
    return best


def profile_neardup(spark):
    import __spark_entry__ as ent
    from pyspark.sql import functions as F
    from yupana_spark.datapipe.dedup import (embedding_neardup_pairs_ivf,
                                             minhash_cross_pairs,
                                             minhash_dedup_pairs,
                                             simhash_near_pairs)

    print("== dp_neardup_scale arms ==")
    # populate the artifact memo exactly as the bench does; the reads
    # below are memo hits on the same frames the bundle uses
    _noop(ent.queries()["dp_neardup_scale"](spark, SF_DIR))
    arts, sigs, cells, banded, ex_mh, ex_sh, ex_el = ent._nd_arts(spark,
                                                                  SF_DIR)
    docs = ent._docs(spark, SF_DIR)
    emb = ent._emb(spark, SF_DIR)
    n_emb = ent._fixture_count(spark, SF_DIR, "embeddings", emb)

    # mirror the bundle's r18 shape: the ingest-time gate decision is in
    # the memo (populated by the warm-up call above), so the arm profile
    # attributes the same per-pass work the bench sees
    gate_mh = ent._minhash_gate(SF_DIR, arts, banded, **ent._ND_GATE)
    mh = lambda: minhash_dedup_pairs(docs, artifacts=arts, banded=banded,
                                     gate_small=gate_mh,
                                     **ent._ND_GATE).select("id_a", "id_b")
    sh = lambda: simhash_near_pairs(docs, max_hamming=3,
                                    sigs=sigs).select("id_a", "id_b")
    el = lambda: embedding_neardup_pairs_ivf(
        emb, threshold=0.45, n=n_emb, cache_key=SF_DIR,
        dedupe=False, cells=cells).select("id_a", "id_b")
    idp = F.pmod(F.col("id"), 2)
    cr = lambda: minhash_cross_pairs(
        docs, docs, threshold=0.5,
        artifacts_a=arts.filter(idp == 0), artifacts_b=arts.filter(idp == 1),
        pair_gate=None,
        banded_a=banded.filter(idp == 0),
        banded_b=banded.filter(idp == 1)).select("id_a", "id_b")

    timeit("mh pipeline", mh)
    timeit("sh pipeline", sh)
    timeit("el pipeline", el)
    timeit("cr pipeline", cr)
    timeit("row(mh)", lambda: ent._completeness_row("m", ex_mh, mh()))
    timeit("row(sh)", lambda: ent._completeness_row("s", ex_sh, sh()))
    timeit("row(el)", lambda: ent._completeness_row("e", ex_el, el(),
                                                    tol_frac=0.1))
    pa, pb = F.col("id_a"), F.col("id_b")
    ex_cr = (ex_mh.filter(F.pmod(pa, 2) != F.pmod(pb, 2))
             .select(F.when(F.pmod(pa, 2) == 0, pa).otherwise(pb)
                     .alias("id_a"),
                     F.when(F.pmod(pa, 2) == 0, pb).otherwise(pa)
                     .alias("id_b")))
    timeit("row(cr)", lambda: ent._completeness_row("c", ex_cr, cr()))
    timeit("FULL bundle",
           lambda: ent.queries()["dp_neardup_scale"](spark, SF_DIR))


def profile_langid(spark):
    import __spark_entry__ as ent
    from pyspark.sql import functions as F
    from yupana_spark.datapipe.bpe import bpe_roundtrip_ok
    from yupana_spark.datapipe.ppx import (bigram_lm_fit, bigram_xent_scores,
                                           ppx_buckets)
    from yupana_spark.datapipe.text import lang_id, unigram_lm_scores

    print("== dp_lang_id arms ==")
    _noop(ent.queries()["dp_lang_id"](spark, SF_DIR))
    docs = ent._docs(spark, SF_DIR, fan_out=True)
    st, tok = ent._artifacts(), ent._fx_token(SF_DIR, "documents")
    lang = lambda: docs.select("doc_id",
                               lang_id(F.col("text")).alias("lang_pred"))
    xent = lambda: unigram_lm_scores(docs, vocab_cap=1 << 20,
                                     cache_key=SF_DIR, store=st,
                                     store_token=tok) \
        .withColumnRenamed("id", "doc_id")
    toked = ent._bpe_toked(spark, SF_DIR)
    bpe = lambda: toked.select(
        "doc_id",
        bpe_roundtrip_ok(F.col("__w"), F.col("__t")).alias("bpe_roundtrip"))
    ppx_art = bigram_lm_fit(docs.filter(F.col("source") == "src0"),
                            cache_key=f"{SF_DIR}:src0", store=st,
                            store_token=tok)
    bx = lambda: bigram_xent_scores(docs, ppx_art) \
        .withColumnRenamed("id", "doc_id")
    timeit("lang (row-local)", lang)
    timeit("xent (unigram LM)", xent)
    timeit("bpe roundtrip", bpe)
    timeit("bx (bigram LM)", bx)
    joined = lambda: (lang().join(xent(), "doc_id", "left")
                      .join(bpe(), "doc_id", "left")
                      .join(bx(), "doc_id", "left"))
    timeit("4-frame join", joined)
    cuts = memo.peek("ppx_cutoffs", (SF_DIR,))
    timeit("FULL (join+buckets)",
           lambda: ppx_buckets(joined(), "big_xent", ("lang_pred",),
                               cuts=cuts).withColumnRenamed("bucket",
                                                            "ppx_bucket"))


def profile_textstats(spark):
    """Arm-level decomposition of dp_text_stats: the relational arms
    (fused es/dc starts, corpus line dedup, fp dup frame) timed against
    the row-local base-scan families and the FULL entry.  The base-scan
    probe re-stages the entry's expensive row-local columns through the
    same library calls (the shared row_rules stage included) — an
    approximation for attribution, not the entry's exact select list
    (which also carries c4/line-shape/bm25)."""
    import __spark_entry__ as ent
    from pyspark.sql import functions as F
    from yupana_spark.datapipe.dedup import (cut_starts_fused,
                                             duplicated_line_stats)
    from yupana_spark.datapipe.filters import row_rules
    from yupana_spark.datapipe.retrieval import _words_safe
    from yupana_spark.datapipe.text import (ngram_char_frac_cols,
                                            quality_metrics, scrub_pii)

    print("== dp_text_stats arms ==")
    # populate the es-index/bm25/fp memos exactly as the bench does
    _noop(ent.queries()["dp_text_stats"](spark, SF_DIR))
    docs = ent._docs(spark, SF_DIR, fan_out=True)
    did = F.col("doc_id")
    staged = docs.withColumn("__bw", _words_safe(F.col("text")))
    esi = ent._es_index(spark, SF_DIR, staged)
    ess = lambda: cut_starts_fused(staged, staged.filter(did % 97 == 0),
                                   n=8, dup_index=esi, words_col="__bw")
    lined = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), " spark ", "\n").alias("text"))
    lstats = lambda: duplicated_line_stats(lined, rebuild=False)

    def dupf():
        fpd = ent._fp_index(spark, SF_DIR)[0]
        return (fpd.join(fpd.groupBy("fp").agg(F.min("doc_id")
                                               .alias("__k")), "fp")
                .select("doc_id",
                        (F.col("doc_id") != F.col("__k"))
                        .alias("is_duplicate")))

    def baseish():
        m = quality_metrics(F.col("text"))
        st, rules = row_rules(docs, rep_rule=True)
        st = (st.withColumn("__bw", _words_safe(F.col("text")))
              .withColumn("__scrubv", scrub_pii(F.col("text"))))
        return st.select(
            "doc_id", m["n_words"], m["alpha_ratio"], m["stopword_ratio"],
            "__quality", "__dup_word_ratio", "__dup_trigram_ratio",
            *rules.values(), F.md5("__scrubv"),
            *ngram_char_frac_cols(F.col("__rw"), F.length(F.col("text")),
                                  [(2, "top", "top2_char_frac"),
                                   (5, "dup", "dup5_char_frac")]))

    timeit("starts fused (es+dc)", ess)
    timeit("line dedup (lstats)", lstats)
    timeit("fp dup frame", dupf)
    timeit("base-scan families (approx)", baseish)
    timeit("FULL bundle",
           lambda: ent.queries()["dp_text_stats"](spark, SF_DIR))


def profile_headline(spark):
    import __spark_entry__ as ent

    print("== headline singles ==")
    qs = ent.queries()
    for n in ["q_day_rollup", "q_agg_stats", "q_tpch_q1", "q_lag_window",
              "q_link_two_hop", "dp_exact_dedup", "dp_ann_bruteforce"]:
        timeit(n, lambda n=n: qs[n](spark, SF_DIR))


def main():
    from yupana_spark.session import get_spark

    which = set(sys.argv[1:]) or {"neardup", "langid", "textstats",
                                  "headline"}
    spark = get_spark("arm-profile")
    spark.sparkContext.setLogLevel("ERROR")
    if "neardup" in which:
        profile_neardup(spark)
    if "langid" in which:
        profile_langid(spark)
    if "textstats" in which:
        profile_textstats(spark)
    if "headline" in which:
        profile_headline(spark)


if __name__ == "__main__":
    main()
