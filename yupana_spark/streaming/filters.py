"""Online corpus filtering: the batch keep/drop decision
(datapipe/filters.corpus_keep) for an always-on ingest.

The row-local rules (quality, language, classifier, Gopher repetition,
C4) are the batch twin's own ``filters.row_rules`` stage, evaluated
scan-side.  The stream differs from the batch only where it must:

* exact-dup — "is this content fingerprint already seen" — is kept per
  fingerprint with ``applyInPandasWithState`` (the same keyed layout as
  Spark's own streaming dedup, but FLAGGING later arrivals instead of
  dropping them, so the output keeps the per-document decision
  contract: (id, keep, reasons));
* decontamination and perplexity read broadcast sets instead of
  joining (below).

The fire flags ride THROUGH the stateful operator: a streaming join back
to the source would be a stream-stream join, which append mode forbids.

Decontamination without a join: the eval corpus is bounded by definition
(the batch path already broadcasts it), so its distinct word-8-gram hash
set collects once and ships as an explicit ``sc.broadcast`` read by an
Arrow-batched UDF — once per executor, the same data movement as the
batch broadcast join, minus the join machinery a stream cannot use.

Scale posture: dup state is one marker per distinct fingerprint (32-byte
md5 keys); the ``idle_timeout_ms`` knob bounds it by the horizon's arrival
volume exactly like ``neardup.streaming_neardup_pairs``.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from .horizon import arm_timeout, event_ms, timeout_mode

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.IntegerType()),
])


def _make_dup_update(carry: Sequence[str], idle_timeout_ms: Optional[int],
                     event_time_col: Optional[str] = None):
    def _dup_update(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.get[0] > 0 if state.exists else False
        # concat ALL Arrow chunks before sorting: a group split across
        # chunks in one micro-batch must still flag by global id order
        # (min id first), or the streamed==batch equivalence breaks
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("id")
        dup = [False] * len(pdf)
        for i in range(len(pdf)):
            dup[i] = seen
            seen = True
        state.update((1 if seen else 0,))
        arm_timeout(state, idle_timeout_ms, event_time_col,
                    event_ms(pdf[event_time_col])
                    if event_time_col is not None else None)
        if len(pdf):
            out = pdf[list(carry)].copy()
            out["is_duplicate"] = dup
            yield out

    return _dup_update


def _ppx_flag_col(hbs: Column, h2s: Column, lm_bc, lam: float,
                 alpha: float, max_xent: float) -> Column:
    """Row-local perplexity flag: the CCNet bigram-LM rule without a join.

    The LM frames are bounded artifacts (capped fits), so — exactly like
    the decontamination rule — they collect once and ship as an explicit
    ``sc.broadcast`` read by an Arrow-batched UDF: the same data movement
    as the batch path's gated broadcast join, minus the join machinery a
    stream cannot use.  The gram hashes are computed JVM-side with the
    SAME xxhash64 expressions as ``ppx.bigram_xent_scores``, and the
    per-doc mean rounds at 4 like the batch scorer, so streamed and batch
    decisions agree."""
    import math

    @F.pandas_udf(T.BooleanType())
    def flag(hb_arr: pd.Series, h2_arr: pd.Series) -> pd.Series:
        uni, big, n_total, v_total = lm_bc.value
        om = 1.0 - lam
        denom = n_total + alpha * (v_total + 1.0)
        out = []
        for hb_l, h2_l in zip(hb_arr, h2_arr):
            if hb_l is None or len(hb_l) == 0:
                out.append(False)       # < 2 words: no bigram evidence
                continue
            s = 0.0
            for hb, h2 in zip(hb_l, h2_l):
                p = (lam * big.get(hb, 0.0)
                     + om * ((uni.get(h2, 0.0) + alpha) / denom))
                s -= math.log(p)
            out.append(round(s / len(hb_l), 4) > max_xent)
        return pd.Series(out)

    return flag(hbs, h2s)


def _contaminated_col(word_array: Column, eval_hashes_bc) -> Column:
    """Row-local contamination flag: any word-8-gram hash in the eval set.

    ``eval_hashes_bc`` is a ``sc.broadcast`` of the frozenset — matching
    the batch path's broadcast posture (text.contaminated_ids): the set
    ships ONCE per executor over the torrent protocol, and the UDF closure
    carries only the broadcast handle, so a million-gram eval suite does
    not re-serialize per task.  ``word_array`` must be a STAGED
    words(normalize_text(...)) column — the ngram lambda would otherwise
    re-normalize the text once per n-gram (the ngram_hashes caveat)."""
    from ..datapipe.text import ngram_hashes

    @F.pandas_udf(T.BooleanType())
    def hit(grams: pd.Series) -> pd.Series:
        ev = eval_hashes_bc.value
        return pd.Series([
            any(int(g) in ev for g in (arr if arr is not None else []))
            for arr in grams])

    return hit(ngram_hashes(word_array, 8))


def streaming_decontaminate_cut(stream: DataFrame, eval_docs: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                n: int = 8) -> DataFrame:
    """Online contamination REMOVAL — the batch
    ``dedup.decontaminate_cut`` edit for an always-on ingest: every
    word-``n``-gram window present in the (static, bounded) eval corpus
    is cut from the streamed document, the rest survives.  Output
    mirrors the batch columns (id, dc_n_words, dc_n_cut_words,
    dc_cut_word_ratio, dc_cleaned) and on a replay of a static corpus
    EQUALS the batch operator row-for-row (the parity the test pins).

    Stateless and append-safe.  The eval gram-hash set collects once and
    ships as an explicit ``sc.broadcast`` (the decontamination-rule
    pattern above — the same data movement as the batch broadcast
    semi-join, minus the join a stream cannot use); gram hashes are
    computed JVM-side with the SAME xxhash64 expressions as the batch
    path, so membership decisions are bit-identical, and the Arrow UDF
    only walks the per-row match positions and re-joins kept words.
    The ratio rounds through the shortest-double-repr HALF_UP mirror,
    matching Spark ``round()`` exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    from ..datapipe.retrieval import _words_safe
    from ..datapipe.text import exploded_ngram_hashes, ngram_hashes

    ev_rows = (exploded_ngram_hashes(eval_docs, text_col, n)
               .distinct().collect())
    bc = stream.sparkSession.sparkContext.broadcast(
        frozenset(int(r["h"]) for r in ev_rows))

    @F.pandas_udf("dc_n_words long, dc_n_cut_words long, "
                  "dc_cut_word_ratio double, dc_cleaned string")
    def cut(ws_arr: pd.Series, hs_arr: pd.Series) -> pd.DataFrame:
        ev = bc.value
        out = []
        for ws, hs in zip(ws_arr, hs_arr):
            ws = list(ws) if ws is not None else []
            hs = list(hs) if hs is not None else []
            drop = set()
            for p, h in enumerate(hs):
                if int(h) in ev:
                    drop.update(range(p, p + n))
            kept = [w for i, w in enumerate(ws) if i not in drop]
            nw, nc = len(ws), len(ws) - len(kept)
            ratio = float(Decimal(repr(nc / max(nw, 1))).quantize(
                Decimal("0.000001"), ROUND_HALF_UP))
            out.append((nw, nc, ratio, " ".join(kept)))
        return pd.DataFrame(out, columns=["dc_n_words", "dc_n_cut_words",
                                          "dc_cut_word_ratio",
                                          "dc_cleaned"])

    staged = stream.withColumn("__w", _words_safe(F.col(text_col)))
    # materialize the struct ONCE, then expand — referencing the UDF
    # expression per field would risk re-evaluating the Python batch
    tmp = staged.select(
        F.col(id_col).alias("id"),
        cut(F.col("__w"), ngram_hashes(F.col("__w"), n)).alias("__r"))
    return tmp.select("id", "__r.dc_n_words", "__r.dc_n_cut_words",
                      "__r.dc_cut_word_ratio", "__r.dc_cleaned")


def streaming_corpus_filter(stream: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            min_quality: float = 0.7,
                            langs: Optional[Sequence[str]] = ("en",),
                            eval_docs: Optional[DataFrame] = None,
                            idle_timeout_ms: Optional[int] = None,
                            event_time_col: Optional[str] = None,
                            lr_art=None, min_lr: float = 0.5,
                            ppx_art=None, max_xent: float = 10.0,
                            rep_rule: bool = False,
                            c4_rule: bool = False) -> DataFrame:
    """Streaming (id, keep, reasons): same rules, labels and reason order
    as the batch ``corpus_keep`` — on a full replay of a static corpus the
    decisions MATCH the batch operator's (the equivalence the test pins),
    except that 'duplicate' marks arrival order (later arrival of equal
    content) instead of higher id, the only meaningful notion online.

    ``idle_timeout_ms`` bounds dup-fingerprint state by a horizon;
    ``event_time_col`` (requires a watermark on that column) makes the
    horizon EVENT-time — eviction keyed to the watermark, deterministic
    under replay at any wall-clock pacing — instead of processing-time.
    ``min_quality``/``langs``/``lr_art``/``min_lr``/``rep_rule``/
    ``c4_rule`` are ``filters.row_rules``' parameters, the SAME stage
    the batch twin evaluates.  ``ppx_art``/``max_xent`` enable the CCNet
    perplexity rule: the bounded LM artifacts ship via ``sc.broadcast``
    to a row-local Arrow UDF (the decontamination pattern), same
    hashes/formula/rounding as the batch scorer, over the stage's
    staged word array."""
    from ..datapipe.filters import keep_reasons, row_rules
    from ..datapipe.text import (exploded_ngram_hashes, fingerprint_md5,
                                 normalize_text, words)

    timeout = timeout_mode(idle_timeout_ms, event_time_col)
    staged, flags = row_rules(stream, text_col, min_quality, langs, lr_art,
                              min_lr, rep_rule, c4_rule)
    if eval_docs is not None:
        # bounded by the eval corpus' size; one static collect through THE
        # shared staged n-gram definition (text.exploded_ngram_hashes),
        # then an EXPLICIT sc.broadcast — the same once-per-executor
        # shipping as the batch path's broadcast join, never a per-task
        # closure re-serialization (r6 verdict ask #2)
        ev_rows = (exploded_ngram_hashes(eval_docs, text_col, 8)
                   .distinct().collect())
        bc = stream.sparkSession.sparkContext.broadcast(
            frozenset(int(r["h"]) for r in ev_rows))
        staged = staged.withColumn(
            "__w", words(normalize_text(F.col(text_col))))
        flags["contaminated"] = _contaminated_col(F.col("__w"), bc)
    if ppx_art is not None:
        from ..datapipe.ppx import _pairs as _ppx_pairs

        uni_f, big_f, n_total, v_total = ppx_art[:4]
        lm_bc = stream.sparkSession.sparkContext.broadcast(
            ({int(r["h"]): float(r["c_u"]) for r in uni_f.collect()},
             {int(r["hb"]): float(r["m"]) for r in big_f.collect()},
             float(n_total), float(v_total)))
        pw = _ppx_pairs(F.col("__rw"))
        flags["perplexity"] = _ppx_flag_col(
            F.transform(pw, lambda s: F.xxhash64(s["w1"], s["w2"])),
            F.transform(pw, lambda s: F.xxhash64(s["w2"])),
            lm_bc, 0.75, 0.5, max_xent)
    labels = sorted(flags)
    carry = ((F.col(event_time_col),) if event_time_col is not None else ())
    base = staged.select(
        F.col(id_col).cast("long").alias("id"),
        *carry,
        fingerprint_md5(F.col(text_col)).alias("__fp"),
        *[flags[k].alias(k) for k in labels],
    )
    out_schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(k, T.BooleanType()) for k in labels]
        + [T.StructField("is_duplicate", T.BooleanType())])
    flagged = (base.groupBy("__fp")
               .applyInPandasWithState(
                   _make_dup_update(["id", *labels], idle_timeout_ms,
                                    event_time_col),
                   out_schema, _STATE_SCHEMA, "append", timeout))
    reasons = keep_reasons({**{k: F.col(k) for k in labels},
                            "duplicate": F.col("is_duplicate")})
    return flagged.select(
        "id",
        (F.length(reasons) == 0).alias("keep"),
        reasons.alias("reasons"))
