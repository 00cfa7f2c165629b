"""Corpus filtering: the composed keep/drop decision of a training-data
pipeline (C4 / Gopher / RefinedWeb all end in this shape: per-document
rules -> keep flag + the reasons it was dropped).

Composition of the repo's own primitives — quality score, language ID,
exact-dup detection, benchmark decontamination — into ONE relational
decision: (id, keep, reasons).  Reasons are a SORTED comma-joined string so
the output is hash-stable and a SQL oracle can recompute it exactly.

100 TB shape: the row-local rules (``row_rules``: quality, language,
classifier, Gopher repetition, C4) are JVM expressions on the one scan,
staged once for the batch, streaming and bundle filters alike; the dup
flag is the exact-dedup fingerprint min-id aggregate + join (one shuffle
on 32-byte md5, skew-splittable); decontamination is the broadcast n-gram
semi-join.  Nothing collects; the decision column composes with any
downstream write.
"""

from __future__ import annotations

from typing import Dict, Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F


def keep_reasons(flags: Mapping[str, Column]) -> Column:
    """The ONE definition of the decision string, shared by the batch,
    streaming and bundle filters so their pinned-equal decisions cannot
    drift apart: the labels of ``flags`` (label -> fire flag) whose flag
    is true, in sorted label order, comma-joined ('' when none fires).
    A NULL flag does not fire."""
    return F.array_join(
        F.filter(F.array(*[F.when(flags[k], F.lit(k))
                           for k in sorted(flags)]),
                 lambda x: x.isNotNull()),
        ",")


#: The Gopher repetition/shape rule's default bars (Rae et al. 2021
#: appendix A1.1 for symbol/bullet/ellipsis; in-house analogues for the
#: duplicate word/trigram family) — ``repetition_flag``'s keyword
#: defaults and the bars ``row_rules`` stages; the hash-strict oracle
#: recomputes the rule arithmetically, so a change here shows loudly.
REP_MAX_DUP_WORD = 0.3
REP_MAX_DUP_TRIGRAM = 0.2
REP_MAX_SYMBOL_WORD = 0.1
REP_MAX_BULLET_LINE = 0.9
REP_MAX_ELLIPSIS_LINE = 0.3


def _repetition_signals(text: Column, w: Column) -> Dict[str, Column]:
    """The repetition rule's five signals over ``text`` and its staged
    lowercased word array ``w``."""
    from .text import line_shape_stats, repetition_stats, symbol_word_ratio

    rep = repetition_stats(w, as_words=True)
    ls = line_shape_stats(text)
    return {"dup_word_ratio": rep["dup_word_ratio"],
            "dup_trigram_ratio": rep["dup_trigram_ratio"],
            "symbol_word_ratio": symbol_word_ratio(text, word_array=w),
            "bullet_line_ratio": ls["bullet_line_ratio"],
            "ellipsis_line_ratio": ls["ellipsis_line_ratio"]}


def _repetition_fires(sig: Mapping[str, Column],
                      max_dup_word: float, max_dup_trigram: float,
                      max_symbol_word: float, max_bullet_line: float,
                      max_ellipsis_line: float) -> Column:
    """The repetition rule's predicate: ANY signal above its bar."""
    return ((sig["dup_word_ratio"] > F.lit(float(max_dup_word)))
            | (sig["dup_trigram_ratio"] > F.lit(float(max_dup_trigram)))
            | (sig["symbol_word_ratio"] > F.lit(float(max_symbol_word)))
            | (sig["bullet_line_ratio"] > F.lit(float(max_bullet_line)))
            | (sig["ellipsis_line_ratio"]
               > F.lit(float(max_ellipsis_line))))


def repetition_flag(text: Column, word_array: Optional[Column] = None,
                    max_dup_word: float = REP_MAX_DUP_WORD,
                    max_dup_trigram: float = REP_MAX_DUP_TRIGRAM,
                    max_symbol_word: float = REP_MAX_SYMBOL_WORD,
                    max_bullet_line: float = REP_MAX_BULLET_LINE,
                    max_ellipsis_line: float = REP_MAX_ELLIPSIS_LINE) -> Column:
    """Row-local Gopher repetition/shape rule (Rae et al. 2021 A1.1):
    fires when ANY signal exceeds its bar.  ``symbol``/``bullet``/
    ``ellipsis`` bars are the paper's published thresholds (0.1 / 0.9 /
    0.3); the duplicate word/trigram bars are in-house analogues of the
    paper's duplicate-n-gram family (``text.ngram_char_frac``'s top/dup
    char-mass forms — row-local folds since r12, so composable on a
    stream too; these simpler fractions catch the same degenerate text
    and remain the oracled rule).

    Entirely row-local array/length expressions: identical in batch and
    streaming.  Pass a staged ``word_array`` on hot paths (the trigram
    lambda's per-element recomputation caveat, see
    ``text.repetition_stats``); the corpus filters get it staged by
    ``row_rules``."""
    from .text import words

    w = word_array if word_array is not None else words(F.lower(text))
    return _repetition_fires(_repetition_signals(text, w), max_dup_word,
                             max_dup_trigram, max_symbol_word,
                             max_bullet_line, max_ellipsis_line)


def row_rules(df: DataFrame, text_col: str = "text",
              min_quality: float = 0.7,
              langs: Optional[Sequence[str]] = ("en",),
              lr_art=None, min_lr: float = 0.5,
              rep_rule: bool = False, c4_rule: bool = False
              ) -> Tuple[DataFrame, Dict[str, Column]]:
    """The row-local corpus rules as ONE stage, shared by ``corpus_keep``,
    ``streaming.filters.streaming_corpus_filter`` and the dp_text_stats
    bundle: ``df`` with the staging columns added, and the mapping
    label -> fire-flag column for ``keep_reasons``.

    Staged, one projection level each:

    * ``__rw`` — ``words(lower(text))``; higher-order functions re-split
      an unstaged array per element (``text.repetition_stats`` caveat);
    * the signals ``__quality`` (``quality_score``), ``__lang``
      (``lang_id``, when ``langs`` is set) and, with ``rep_rule``, the
      repetition rule's five (``__dup_word_ratio``, ...).  A consumer
      that also outputs a signal reads the staged column, so the
      trigram fold runs once per row;
    * one boolean ``__r_<label>`` flag per enabled rule:

      - 'low_quality'   quality_score < ``min_quality``
      - 'lang'          predicted language not in ``langs`` (None
        disables)
      - 'model_quality' ``classify.quality_lr_score`` < ``min_lr``
        (``lr_art`` = a ``quality_lr_fit`` artifact)
      - 'repetition'    the Gopher rule at the ``REP_MAX_*`` bars
        (``rep_rule``)
      - 'c4'            NOT ``text.c4_rules(...)["c4_keep"]`` at the
        paper's defaults (``c4_rule``)

    Every flag is row-local, so batch and stream evaluate the same
    columns; carry them through joins or a stateful operator by name."""
    from .text import c4_rules, lang_id, quality_score, words

    text = F.col(text_col)
    staged = df.withColumn("__rw", words(F.lower(text)))
    sig = {"quality": quality_score(text)}
    if langs is not None:
        sig["lang"] = lang_id(text)
    if rep_rule:
        sig.update(_repetition_signals(text, F.col("__rw")))
    staged = staged.withColumns({f"__{k}": v for k, v in sig.items()})
    s = {k: F.col(f"__{k}") for k in sig}
    fires = {"low_quality": s["quality"] < F.lit(float(min_quality))}
    if langs is not None:
        fires["lang"] = ~s["lang"].isin(*langs)
    if lr_art is not None:
        from .classify import quality_lr_score

        fires["model_quality"] = (quality_lr_score(text, lr_art)
                                  < F.lit(min_lr))
    if rep_rule:
        fires["repetition"] = _repetition_fires(
            s, REP_MAX_DUP_WORD, REP_MAX_DUP_TRIGRAM, REP_MAX_SYMBOL_WORD,
            REP_MAX_BULLET_LINE, REP_MAX_ELLIPSIS_LINE)
    if c4_rule:
        fires["c4"] = ~c4_rules(text)["c4_keep"]
    staged = staged.withColumns({f"__r_{k}": v for k, v in fires.items()})
    return staged, {k: F.col(f"__r_{k}") for k in fires}


def corpus_keep(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_quality: float = 0.7,
                langs: Optional[Sequence[str]] = ("en",),
                eval_docs: Optional[DataFrame] = None,
                lr_art=None, min_lr: float = 0.5,
                ppx_art=None, max_xent: float = 10.0,
                rep_rule: bool = False,
                c4_rule: bool = False) -> DataFrame:
    """(id, keep, reasons): keep iff NO rule fires; ``reasons`` lists the
    fired rules in fixed alphabetical order ('c4', 'contaminated',
    'duplicate', 'lang', 'low_quality', 'model_quality', 'perplexity',
    'repetition'), comma-joined ('' when kept).

    The row-local rules ('c4', 'lang', 'low_quality', 'model_quality',
    'repetition') are ``row_rules``' flags — see there for their
    parameters.  The corpus-wide ones:
    * exact-duplicate (non-min-id fingerprint) -> 'duplicate'
    * shares a word-8-gram with ``eval_docs``  -> 'contaminated'
    * bigram-LM cross-entropy > ``max_xent``   -> 'perplexity'
      (``ppx_art`` = a ``ppx.bigram_lm_fit`` artifact; the CCNet-style
      statistical filter — Wenzek et al. 2020 drop the high-perplexity
      tail of the crawl.  Unlike the row-local rules this one joins the
      per-doc score frame on id; docs with < 2 words carry no bigram
      evidence and never fire it)
    """
    from .dedup import exact_dedup
    from .text import contaminated_ids

    staged, flags = row_rules(exact_dedup(df, text_col, id_col), text_col,
                              min_quality, langs, lr_art, min_lr,
                              rep_rule, c4_rule)
    out = staged.select(F.col(id_col).alias("id"), "is_duplicate",
                        *flags.values())
    flags["duplicate"] = F.col("is_duplicate")
    if eval_docs is not None:
        cont = (contaminated_ids(df, eval_docs, text_col, id_col)
                .select(F.col(id_col).alias("id"),
                        F.lit(True).alias("__cont")))
        out = out.join(cont, "id", "left")
        flags["contaminated"] = F.col("__cont")
    if ppx_art is not None:
        from .ppx import bigram_xent_scores

        out = out.join(bigram_xent_scores(df, ppx_art, text_col, id_col),
                       "id", "left")
        flags["perplexity"] = F.col("big_xent") > F.lit(float(max_xent))
    reasons = keep_reasons(flags)
    return out.select(
        "id",
        (F.length(reasons) == 0).alias("keep"),
        reasons.alias("reasons"))


def corpus_preprocess(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      eval_docs: Optional[DataFrame] = None,
                      min_quality: float = 0.7,
                      langs: Optional[Sequence[str]] = ("en",),
                      rep_rule: bool = True,
                      neardup_threshold: Optional[float] = None,
                      neardup_pairs: Optional[DataFrame] = None,
                      decontaminate: bool = True,
                      n: int = 8,
                      sample_rate: float = 1.0,
                      pii_scrub: bool = False) -> DataFrame:
    """The COMPOSED preprocessing recipe, applied end to end — the
    FineWeb/RefinedWeb pipeline order as one call: rule filters +
    exact dedup (``corpus_keep``), optional MinHash near-dup cluster
    resolution AMONG THE RULE-FILTER SURVIVORS (keep the min-id
    representative per connected component), optional
    benchmark-decontamination SPAN REMOVAL of the survivors, and a
    final deterministic Bernoulli sample.  ``pii_scrub=True`` prepends
    FineWeb's PII-anonymization stage (emails / IPv4 / phone runs →
    typed placeholders, ``text.scrub_pii``) to the raw text before any
    other stage — see the inline comment for why entry-side is the only
    placement that can work against the normalized output text.
    Known limitation (ADVICE r16): the scrub applies to the CORPUS text
    only, not to ``eval_docs`` — a decontamination n-gram fingerprint
    that spans an email/IP in a benchmark doc no longer matches the
    anonymized corpus text, so a contaminated span overlapping scrubbed
    PII can survive the cut.  Callers who need the symmetric behavior
    should pre-scrub the benchmark frame themselves
    (``eval_docs.withColumn(text_col, scrub_pii(...))``) — the recipe
    does not do it implicitly because eval sets are reference data that
    other tooling matches byte-for-byte against published benchmarks.

    Near-dup clusters are resolved over the docs whose ``corpus_keep``
    reasons are empty — the FineWeb/RefinedWeb order (dedup among
    filter survivors, keeping one copy), not over the full input
    (ADVICE r14: a full-input representative can itself be dropped by
    a rule filter, silently losing the whole cluster's content; here
    the representative is by construction a survivor).  Because both
    the LSH banding and the Jaccard verify are pairwise/per-doc,
    restricting the INPUT to survivors equals restricting full-corpus
    pairs to survivor endpoints — which is exactly what happens when a
    precomputed ``neardup_pairs`` frame (``(id_a, id_b, ...)``, e.g.
    ``minhash_dedup_pairs``/``ngram_jaccard_pairs`` output a pipeline
    already paid for) is passed instead of ``neardup_threshold``: its
    pairs are semi-joined to the survivor set before clustering.

    Returns one row per INPUT document — nothing is silently dropped:
    ``(id, keep, reasons, text_clean, n_words, n_cut_words, sampled)``
    where ``keep`` folds in the near-dup verdict (reason ``near_dup``
    sorts into the same alphabetical reason list the rule filters use),
    ``text_clean`` is the decontaminated normalized text for KEPT docs
    (NULL for dropped ones — there is nothing to train on), and
    ``sampled`` marks the kept docs admitted by the deterministic
    md5-threshold sample (``sample.deterministic_sample``'s predicate,
    so a replay admits the identical set).  Filter
    ``keep AND sampled`` and project ``text_clean`` to materialize the
    training corpus; keep the full frame for audit trails.

    100 TB shape: every stage is the already-audited operator —
    corpus_keep's one fingerprint shuffle, the banded LSH joins +
    bounded cluster resolution, the broadcast eval-gram decontamination
    cut, and a row-local sample predicate.  Composition adds only
    narrow id-keyed joins.

    Cache lifecycle: when a near-dup arm is active the recipe PERSISTS a
    narrow (id, reasons) verdict frame (MEMORY_AND_DISK) so the
    corpus_keep subtree does not execute twice per action.  One
    ``memo.persist`` slot owns it: a recipe over the same corpus reads
    the held entry, a recipe over another corpus releases it first, so
    a long-lived driver holds at most one verdict frame (lineage stays
    recomputable, so a release can only cost recompute time, never
    correctness).

    Oracled first-class as the dp_corpus_preprocess bundle (r15 — the
    DuckDB oracle recomputes keep/reasons/text_clean/cuts/sampled end
    to end, with the Jaccard-pairs near-dup arm so the pair verdicts
    are SQL-recomputable); the MinHash arm and the composition laws
    (conservation, per-stage agreement, determinism, pairs-arm
    equivalence) stay pinned by test_corpus_preprocess_laws."""
    from .dedup import decontaminate_cut, minhash_dedup_pairs
    from .sample import bernoulli_keep, dedup_clusters

    # argument validation BEFORE any plan is built (the convention
    # _validate_mix_params set, ADVICE r13; lazy evaluation made the
    # post-hoc raise free at runtime but work-then-validate is backwards)
    if neardup_threshold is not None and neardup_pairs is not None:
        raise ValueError(
            "corpus_preprocess: pass neardup_threshold (the built-in "
            "MinHash arm) OR neardup_pairs (a precomputed pair frame), "
            "not both — a threshold would be silently ignored")
    if pii_scrub:
        # PII anonymization (FineWeb's published final stage: emails +
        # public IPs get typed placeholders) applied to the RAW text at
        # the recipe ENTRY, not the exit: normalize_text strips @/./+
        # downstream, so an exit-side scrub could never match a pattern
        # — and entry-side placement means fingerprints, MinHash
        # shingles, and quality signals all see the anonymized form, so
        # two docs differing only in a scrubbed email are the exact
        # dups they should be.  Row-local regexp_replace chain: a
        # zero-shuffle rewrite of the scan at any scale (text.scrub_pii
        # is content-pinned by the dp_text_stats scrub_md5 oracle
        # column; the composition point is pinned by
        # test_corpus_preprocess_laws' pre-scrubbed-equivalence law).
        from .text import scrub_pii

        df = df.withColumn(text_col, scrub_pii(F.col(text_col)))
    out = corpus_keep(df, text_col, id_col, min_quality=min_quality,
                      langs=langs, rep_rule=rep_rule,
                      eval_docs=eval_docs if decontaminate else None)
    if neardup_threshold is not None or neardup_pairs is not None:
        # dedup among the rule-filter survivors (FineWeb order): the
        # survivor set is a narrow id frame; the semi-joins below are
        # id-keyed and the minhash pass only pays for surviving text.
        # The verdict frame feeds BOTH the survivor branch and the final
        # reason fold, and no ReusedExchange fires between them (column
        # pruning differs per branch), so without materialization the
        # whole corpus_keep subtree — fingerprint shuffle, contamination
        # explode — executes twice per action.  Persist the NARROW
        # (id, reasons) frame instead (tens of bytes/doc at any scale):
        # MEMORY_AND_DISK with recomputable lineage, owned by one memo
        # slot like dedup._rung3_exact's screened set.
        from .. import memo

        out = memo.persist("recipe_verdict", (), out)
        surv = out.filter(F.length("reasons") == 0).select("id")
        if neardup_pairs is not None:
            pairs = (neardup_pairs
                     .join(surv.select(F.col("id").alias("id_a")),
                           "id_a", "left_semi")
                     .join(surv.select(F.col("id").alias("id_b")),
                           "id_b", "left_semi"))
        else:
            surv_docs = df.join(surv.select(F.col("id").alias(id_col)),
                                id_col, "left_semi")
            pairs = minhash_dedup_pairs(surv_docs, text_col, id_col,
                                        threshold=neardup_threshold)
        clus = dedup_clusters(pairs)
        nd = (clus.filter(F.col("id") != F.col("cluster_id"))
              .select(F.col("id"), F.lit(True).alias("__nd")))
        out = (out.join(nd, "id", "left")
               .withColumn("__nd", F.coalesce(F.col("__nd"),
                                              F.lit(False))))
    else:
        out = out.withColumn("__nd", F.lit(False))
    # fold the near-dup verdict into the SAME alphabetical reason list
    reasons = F.array_join(
        F.array_sort(F.filter(
            F.concat(F.split(F.col("reasons"), ","),
                     F.array(F.when(F.col("__nd"), F.lit("near_dup")))),
            lambda x: x.isNotNull() & (x != ""))), ",")
    out = (out.select("id", reasons.alias("reasons"))
           .withColumn("keep", F.length("reasons") == 0))
    # decontaminated edit of the survivors (one row per input doc comes
    # from the cut operator's coverage contract; the join is id-keyed)
    if decontaminate and eval_docs is not None:
        cut = decontaminate_cut(df, eval_docs, text_col, id_col, n=n)
        ed = cut.select("id", F.col("dc_cleaned").alias("__clean"),
                        F.col("dc_n_words").alias("n_words"),
                        F.col("dc_n_cut_words").alias("n_cut_words"))
    else:
        from .text import normalize_text
        from .text import words as _w

        st = df.withColumn(
            "__w", F.coalesce(_w(normalize_text(F.col(text_col))),
                              F.array()))
        ed = st.select(F.col(id_col).alias("id"),
                       F.array_join(F.col("__w"), " ").alias("__clean"),
                       F.size("__w").cast("long").alias("n_words"),
                       F.lit(0).cast("long").alias("n_cut_words"))
    out = out.join(ed, "id", "left")
    # deterministic Bernoulli admission (the sampler's predicate
    # verbatim — replay == batch)
    sampled = (F.lit(True) if sample_rate >= 1.0
               else bernoulli_keep(F.col("id"), float(sample_rate)))
    return out.select(
        "id", "keep", "reasons",
        F.when(F.col("keep"), F.col("__clean")).alias("text_clean"),
        "n_words", "n_cut_words",
        (F.col("keep") & sampled).alias("sampled"))
