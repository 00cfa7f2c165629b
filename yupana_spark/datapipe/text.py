"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language-ID,
quality scoring, token counting, document fingerprinting — all expressed with
built-in pyspark.sql.functions (JVM-side, inside whole-stage codegen); no
Python UDFs in any hot path, so a 100 TB corpus scan stays a single
narrow-dependency pipeline with full predicate pushdown.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# tokenization / counting
# ---------------------------------------------------------------------------
_WS = r"[ \t\n\x0B\f\r]+"
# BPE-ish: words, numbers, or single punctuation marks (GPT-2 style classes)
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]"


def words(col: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(F.trim(col), _WS), lambda x: x != F.lit(""))


def norm_words(col: Column) -> Column:
    """Token-equal fast path of ``words(normalize_text(col))``: the
    whitespace split (the explicit ``_WS`` class — PARITY.md regex
    convention) already absorbs whitespace runs and edges, so
    ``normalize_text``'s whitespace-collapse regexp pass and trim are
    redundant work over the full text — one corpus-wide regex instead
    of two (measured 27% off the staged word split at sf0.1, r13).
    Every staged word array (dedup cut families, BM25 probe words, DSIR
    grams) MUST use the same token definition or cut positions silently
    misalign — this helper IS that definition; the identity is pinned
    by test_staging_expressions_identical."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9 \t\n\x0B\f\r]", ""),
                _WS),
        lambda x: x != F.lit(""))


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count regexp occurrences of word/digit/punct
    units (regexp_count is JVM-side; a real tokenizer would be a Pandas UDF)."""
    return F.regexp_count(col, F.lit(_BPE_RE))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def quality_metrics(col: Column, stopwords: Optional[List[str]] = None) -> Dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals.

    Ratios are rounded to 6 places to stay hash-stable across engines.
    """
    sw = stopwords or _STOPWORDS["en"]
    length = F.length(col)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9 \t\n\x0B\f\r]", ""))
    w = words(F.lower(col))
    n_words = F.size(w)
    n_stop = F.size(F.array_intersect(F.array_distinct(w),
                                      F.array([F.lit(s) for s in sw])))
    safe_len = F.greatest(length, F.lit(1))
    safe_words = F.greatest(n_words, F.lit(1))
    return {
        "n_chars": length,
        "n_words": n_words,
        "alpha_ratio": F.round(n_alpha / safe_len, 6),
        "digit_ratio": F.round(n_digit / safe_len, 6),
        "punct_ratio": F.round(n_punct / safe_len, 6),
        "stopword_ratio": F.round(n_stop / safe_words, 6),
        "mean_word_len": F.round(n_alpha / safe_words, 6),
    }


def repetition_stats(col: Column, as_words: bool = False) -> Dict[str, Column]:
    """Repetition-based quality signals in the style of the published
    Gopher/MassiveText filtering rules (Rae et al. 2021, appendix A):
    fraction of duplicate words and duplicate word trigrams — high values
    flag boilerplate, templated or degenerate text that token-count and
    punctuation ratios miss.  Pure JVM array expressions; rounded to 6
    places for cross-engine hash stability.

    IMPORTANT: pass ``as_words=True`` with a MATERIALIZED word-array column
    on the hot path.  The trigram transform's per-element lambda references
    the word array, and higher-order functions re-evaluate non-cheap
    argument expressions once per element — handing it the raw text column
    re-splits the text per trigram (measured 30x slower at fixture scale).
    """
    w = col if as_words else words(F.lower(col))
    n_w = F.size(w)
    safe_w = F.greatest(n_w, F.lit(1))
    tg = word_shingles(w, 3, as_words=True)
    n_t = F.size(tg)
    safe_t = F.greatest(n_t, F.lit(1))
    return {
        "dup_word_ratio": F.round((n_w - F.size(F.array_distinct(w)))
                                  / safe_w, 6),
        "dup_trigram_ratio": F.round((n_t - F.size(F.array_distinct(tg)))
                                     / safe_t, 6),
    }


def ngram_char_frac(df: DataFrame, n: int, mode: str = "top",
                    text_col: str = "text", id_col: str = "doc_id"
                    ) -> DataFrame:
    """Per-document Gopher n-gram repetition signal (Rae et al. 2021,
    appendix A1.1) — ``(id, frac)``:

    * ``mode="top"`` (published for n=2..4): fraction of the document's
      characters contained in the MOST FREQUENT word n-gram,
      ``min(1, count_max * length(gram_max) / n_chars)`` where
      ``gram_max`` is the gram with the highest count (ties broken
      toward the larger char mass, so the signal is deterministic and
      conservative);
    * ``mode="dup"`` (published for n=5..10): fraction of characters in
      word n-grams that occur more than once,
      ``min(1, sum(count * length(gram) where count >= 2) / n_chars)``.

    Both are the count-mass form — overlapping occurrences each count
    the full gram length, hence the cap at 1 (a single word repeated 30
    times would otherwise score > 2); the paper's char-coverage marking
    is sequential per doc, and both orderings of the same filter bar
    agree on web text.

    Scale shape: a WITHIN-document statistic, so it is a pure row-local
    Column fold — see :func:`ngram_char_fracs` (zero shuffles, zero
    explodes, no UDF, no broadcast, no driver state; stream-safe).
    Documents with fewer than ``n`` words carry no grams and are
    omitted (left-join back for full coverage).

    The denominator is ``length(text_col)`` verbatim, so the fraction is
    reproducible by any engine without re-tokenizing.
    """
    if mode not in ("top", "dup"):
        raise ValueError(f"mode must be 'top' or 'dup', got {mode!r}")
    return ngram_char_fracs(df, [(n, mode, "frac")], text_col, id_col)


def ngram_char_fracs(df: DataFrame, specs, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Multi-spec :func:`ngram_char_frac` — ``(id, <alias>, ...)`` with
    one output column per ``(n, mode, alias)`` spec.

    100 TB shape (r12 rewrite): the Gopher n-gram repetition signal is a
    WITHIN-document statistic, so it needs no corpus-wide state at all —
    the former explode + groupBy(id, gram) shape shuffled every gram of
    every document twice for what one row can compute alone.  Each
    spec's fraction is now a pure Column fold over the doc's own staged
    word array: build the gram-hash/char-length pairs (8-byte xxhash64
    of the word SLICE — gram text is never even materialized), sort,
    and count equal-hash runs in ONE ``aggregate`` pass that tracks the
    best (count, mass) gram and the summed duplicated mass together.
    Zero shuffles, zero explodes — a linear scan that also rides a
    structured stream unchanged.

    A within-doc 64-bit hash collision would merge two gram counts; at
    document-scale gram cardinality the probability is ~1e-15 — the
    same accepted posture as every hash-keyed dedup operator here.

    Coverage: a doc with no grams for ANY spec (fewer than min(n) words)
    is omitted — callers left-join and coalesce to 0.0 exactly as with
    the single-spec form.  A doc present for one spec but gram-less for
    another gets that spec's published zero (no grams -> no repeated
    mass).
    """
    # STAGE the word array before the gram lambdas reference it: higher-
    # order functions re-evaluate non-cheap argument expressions once per
    # element, so an unstaged words() would re-split the text per gram
    # position (the repetition_stats caveat, measured 30x)
    staged = df.select(F.col(id_col).alias("id"),
                       F.length(F.col(text_col)).alias("__nc"),
                       words(F.lower(F.col(text_col))).alias("__w"))
    cols = ngram_char_frac_cols(F.col("__w"), F.col("__nc"), specs)
    return staged.filter(
        F.size(F.col("__w")) >= min(n for n, _, _ in specs)) \
        .select("id", *cols)


def ngram_char_frac_cols(w: Column, nc: Column, specs) -> list:
    """The :func:`ngram_char_fracs` fractions as pure COLUMNS over a
    staged word array ``w`` and raw char length ``nc`` — for pipelines
    that already scan the corpus once and want the Gopher repetition
    signals to ride that scan (dp_text_stats' base select does).  Docs
    with fewer than ``n`` words score the published 0.0 (no grams -> no
    repeated mass); callers that must OMIT such docs filter themselves
    (the df wrapper above does)."""
    for _, mode, _ in specs:
        if mode not in ("top", "dup"):
            raise ValueError(f"mode must be 'top' or 'dup', got {mode!r}")
    nw = F.size(w)
    safe_nc = F.greatest(nc, F.lit(1))
    cols = []
    for n, mode, alias in specs:
        bm_dm = _ngram_mass_fold(w, n)
        val = bm_dm["bm"] if mode == "top" else bm_dm["dm"]
        frac = F.round(F.least(F.lit(1.0), val / safe_nc), 6)
        # CASE WHEN evaluates lazily, so the descending-sequence edge of
        # sub-n-word docs never reaches the fold
        cols.append(F.when(nw >= n, frac).otherwise(F.lit(0.0))
                    .alias(alias))
    return cols


def _ngram_mass_fold(w: Column, n: int) -> Column:
    """struct(bm, dm) over one document's word ``n``-grams: ``bm`` = char
    mass of the max-count gram (count ties resolve to the larger mass —
    the published "most frequent n-gram" form, advice r10) and ``dm`` =
    summed ``count * length`` over grams occurring >= 2 times.  A pure
    row-local fold: hash every n-word slice, sort, and walk equal-hash
    runs with a single ``aggregate`` whose finish-lambda closes the last
    run.  Caller must guard ``size(w) >= n``."""
    slices = F.transform(F.sequence(F.lit(0), F.size(w) - F.lit(n)),
                         lambda i: F.slice(w, i + F.lit(1), n))
    # char length of the JOINED gram = word lengths + (n-1) separators;
    # the gram string itself never exists
    hl = F.sort_array(F.transform(slices, lambda s: F.struct(
        F.xxhash64(s).alias("h"),
        (F.aggregate(s, F.lit(0), lambda a, x: a + F.length(x))
         + F.lit(n - 1)).alias("l"))))
    zero_l = F.lit(0).cast("bigint")
    init = F.struct(zero_l.alias("ph"), F.lit(0).alias("c"),
                    F.lit(0).alias("l"), F.lit(0).alias("bc"),
                    zero_l.alias("bm"), zero_l.alias("dm"))

    def _close(a):
        # run boundary: fold the finished (gram, count, length) run into
        # best-gram and duplicated-mass accumulators.  Cast BEFORE the
        # multiply: int count x int length can exceed 2^31 on a
        # pathological single-gram document (review r12)
        m = a["c"].cast("bigint") * a["l"]
        better = (a["c"] > 0) & ((a["c"] > a["bc"])
                                 | ((a["c"] == a["bc"]) & (m > a["bm"])))
        return (F.when(better, a["c"]).otherwise(a["bc"]),
                F.when(better, m).otherwise(a["bm"]),
                a["dm"] + F.when(a["c"] >= 2, m).otherwise(zero_l))

    def _step(a, x):
        same = (a["c"] > 0) & (x["h"] == a["ph"])
        bc, bm, dm = _close(a)
        return F.struct(
            x["h"].alias("ph"),
            F.when(same, a["c"] + F.lit(1)).otherwise(F.lit(1)).alias("c"),
            F.when(same, a["l"]).otherwise(x["l"]).alias("l"),
            F.when(same, a["bc"]).otherwise(bc).alias("bc"),
            F.when(same, a["bm"]).otherwise(bm).alias("bm"),
            F.when(same, a["dm"]).otherwise(dm).alias("dm"))

    def _fin(a):
        bc, bm, dm = _close(a)
        return F.struct(bm.alias("bm"), dm.alias("dm"))

    return F.aggregate(hl, init, _step, _fin)


def line_shape_stats(col: Column) -> Dict[str, Column]:
    """Row-local Gopher line-shape signals over a NEWLINE-delimited text
    column (Rae et al. 2021 A1.1 filters: >90% bullet-started lines or
    >30% ellipsis-ended lines reject a document):

    * ``n_text_lines``  — non-blank lines;
    * ``bullet_line_ratio``   — lines starting with a bullet marker
      (``•``, ``-``, ``*`` followed by whitespace);
    * ``ellipsis_line_ratio`` — lines ending with ``…`` or ``...``.

    Pure array expressions (split + filter + size): per-row bounded work,
    no shuffle, no UDF."""
    lines = F.filter(F.split(col, "\n"),
                     lambda ln: F.trim(ln) != F.lit(""))
    n = F.size(lines)
    safe = F.greatest(n, F.lit(1))
    # whitespace-anchored (the explicit class, not trim/rtrim which
    # strip spaces only) so tab/CR padding cannot hide a bullet or an
    # ellipsis (review r10; explicit class per the r16 convention)
    bullet = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^[ \t\n\x0B\f\r]*[•\-\*][ \t\n\x0B\f\r]")))
    ell = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"(\.\.\.|…)[ \t\n\x0B\f\r]*$")))
    return {
        "n_text_lines": n,
        "bullet_line_ratio": F.round(bullet / safe, 6),
        "ellipsis_line_ratio": F.round(ell / safe, 6),
    }


def symbol_word_ratio(col: Column,
                      word_array: Optional[Column] = None) -> Column:
    """Gopher symbol-to-word ratio: occurrences of ``#`` plus ellipsis
    (``…``, or ``...`` counted per 3-char run) per word — the A1.1 filter
    rejects > 0.1.  Row-local length arithmetic, no UDF.  Pass a staged
    ``word_array`` on hot paths so the denominator reuses it instead of
    re-splitting the text."""
    hashes = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    uni_ell = (F.length(col)
               - F.length(F.replace(col, F.lit("…"), F.lit(""))))
    dots = F.floor(
        (F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit(""))))
        / F.lit(3))
    w = word_array if word_array is not None else words(F.lower(col))
    return F.round((hashes + uni_ell + dots)
                   / F.greatest(F.size(w), F.lit(1)), 6)


def within_doc_dup_stats(col: Column) -> Dict[str, Column]:
    """The remaining Gopher A1.1 repetition rows — WITHIN-document
    duplicate line / paragraph fractions (the corpus-wide complement is
    ``dedup.duplicated_line_stats``):

    * ``dup_line_frac`` / ``dup_para_frac``: occurrences beyond the
      first, ``(n - n_distinct) / n``;
    * ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in
      those repeat occurrences, ``(chars - distinct_chars) / chars``.

    Lines split on a newline, paragraphs on blank-line runs; blank units
    are not units.  Everything reduces to array algebra on the row —
    ``array_distinct`` + concatenated length — so unlike the n-gram
    char-mass fractions (which shuffle) these are O(units) row-local
    expressions with no exchange at any scale.  Each returned entry
    binds the filtered unit array and its derived scalars ONCE
    (``colutil.bind_once``): the ``F.filter`` HOF makes the whole tree
    CodegenFallback, where naked multi-references re-run the split +
    filter per consumer (r13)."""
    from .colutil import bind_once

    def _unit(units: Column, name: str) -> Dict[str, Column]:
        u_expr = F.filter(units, lambda x: F.trim(x) != F.lit(""))

        def _frac(u: Column) -> Column:
            return bind_once(
                F.struct(F.size(u).alias("n"),
                         F.size(F.array_distinct(u)).alias("nd")),
                lambda s: F.round((s["n"] - s["nd"])
                                  / F.greatest(s["n"], F.lit(1)), 6))

        def _char_frac(u: Column) -> Column:
            return bind_once(
                F.struct(
                    F.length(F.array_join(u, "")).alias("c"),
                    F.length(F.array_join(F.array_distinct(u), ""))
                    .alias("cd")),
                lambda s: F.round((s["c"] - s["cd"])
                                  / F.greatest(s["c"], F.lit(1)), 6))

        return {
            f"dup_{name}_frac": bind_once(u_expr, _frac),
            f"dup_{name}_char_frac": bind_once(u_expr, _char_frac),
        }

    out = _unit(F.split(col, "\n"), "line")
    out.update(_unit(F.split(col, r"\n{2,}"), "para"))
    return out


def c4_rules(col: Column, min_words: int = 5,
             min_sentences: int = 3) -> Dict[str, Column]:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over a NEWLINE-
    delimited text column — the published line/page filters:

    * keep only lines that end in a terminal punctuation mark, contain
      at least ``min_words`` words, and do not mention 'javascript';
    * page flags: fewer than ``min_sentences`` sentences in the kept
      text, a curly brace anywhere, or the phrase 'lorem ipsum' reject
      the page.

    Returns ``c4_kept_lines`` / ``c4_clean_len`` (the cleaned text rides
    as its length, driver-canon-friendly) / ``c4_n_sentences`` /
    ``c4_keep``.  Sentences are counted as terminal-punctuation marks in
    the kept text (the paper used a sentence splitter; any fixed
    definition serves the filter).  Pure row-local array/regexp
    expressions — no shuffle, no UDF, identical in batch and streaming.
    """
    lines = F.split(col, "\n")
    # whitespace-class-anchored $ instead of rtrim: rtrim strips
    # SPACES only, so a CRLF or tab-trailing line would lose its
    # terminal punctuation (review r10; explicit class per r16)
    kept = F.filter(
        lines,
        lambda ln: (ln.rlike(r'[.!?"][ \t\n\x0B\f\r]*$')
                    & (F.size(words(F.lower(ln))) >= F.lit(min_words))
                    & ~F.lower(ln).contains("javascript")))
    clean = F.array_join(kept, "\n")
    nsent = F.size(F.split(clean, r"[.!?]")) - F.lit(1)
    return {
        "c4_kept_lines": F.size(kept),
        "c4_clean_len": F.length(clean),
        "c4_n_sentences": nsent,
        "c4_keep": ((nsent >= F.lit(min_sentences))
                    & ~col.contains("{")
                    & ~F.lower(col).contains("lorem ipsum")),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic (Gopher-rules-style thresholds).
    (A bind-once rewrite measured a wash here — unlike ``lang_id`` there
    is no exponential reference chain, so the naive combination stays;
    r13, docs/scale.md.)"""
    m = quality_metrics(col)
    checks = [
        (m["n_words"] >= 5).cast("int"),
        (m["alpha_ratio"] > 0.5).cast("int"),
        (m["punct_ratio"] < 0.2).cast("int"),
        (m["mean_word_len"].between(2.0, 12.0)).cast("int"),
        (m["n_chars"] >= 20).cast("int"),
    ]
    total = checks[0]
    for c in checks[1:]:
        total = total + c
    return F.round(total / F.lit(float(len(checks))), 6)


# ---------------------------------------------------------------------------
# language identification (stopword/character n-gram heuristic)
# ---------------------------------------------------------------------------
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"],
}


# the CLOSED set of values lang_id can return: the stopword languages
# plus the 'und' fallback and the CJK override.  Callers that need the
# prediction as a compact integer (e.g. to keep it out of string
# aggregate buffers — see unigram_lm_scores' carry caveat) encode with
# array_position over this list and decode with element_at; round-trip
# identity holds because the list is duplicate-free.
LANG_ID_DOMAIN = sorted(_STOPWORDS) + ["und", "zh"]


def lang_id(col: Column) -> Column:
    """argmax language with deterministic tie-break (alphabetical); 'und'
    when nothing matches.  CJK detection via unicode-range n-grams.

    The distinct-word array and the per-language scores are BOUND once
    (``colutil.bind_once``): the naive WHEN ladder referenced
    ``best_score`` twice per language, doubling the embedded score
    subtrees per iteration — and with ``words`` a CodegenFallback HOF
    each score evaluation re-split the full text, so the ladder cost
    ~2^|langs| splits per row (measured r13: the lang_id column alone
    ran 1.1 s at sf0.1; the bound form ~0.15 s, identical values)."""
    from .colutil import bind_once

    has_cjk = F.length(F.regexp_replace(col, r"[^一-鿿]", "")) > 0

    def _scores(w: Column) -> Column:
        return F.struct(*[
            F.size(F.array_intersect(
                w, F.array([F.lit(s) for s in _STOPWORDS[lang]])))
            .alias(lang) for lang in sorted(_STOPWORDS)])

    def _pick(sc: Column) -> Column:
        best = F.lit("und")
        best_score = F.lit(0)
        for lang in sorted(_STOPWORDS):  # alphabetical: later only wins
            s = sc[lang]                 # strictly; field reads are O(1)
            take = s > best_score
            best = F.when(take, F.lit(lang)).otherwise(best)
            best_score = F.when(take, s).otherwise(best_score)
        return F.when(has_cjk, F.lit("zh")).otherwise(best)

    return bind_once(F.array_distinct(words(F.lower(col))),
                     lambda w: bind_once(_scores(w), _pick))


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------
def normalize_text(col: Column) -> Column:
    """Canonical form: lowercase, collapse whitespace, strip non-alnum."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 \t\n\x0B\f\r]", "")
    c = F.regexp_replace(c, r"[ \t\n\x0B\f\r]+", " ")
    return F.trim(c)


def fingerprint_md5(col: Column) -> Column:
    """Exact-dup content fingerprint over the normalized text.

    NULL text fingerprints as the EMPTY document (review r12: md5(NULL)
    is NULL, and a null-unsafe equi-join on the fingerprint silently
    dropped NULL-text docs from exact_dedup / corpus_keep — the stated
    posture everywhere else is 'NULL text behaves as the empty
    document', so the coalesce lives HERE, once, and every consumer
    joining on fp inherits a never-NULL key)."""
    return F.md5(F.coalesce(normalize_text(col), F.lit("")))


def char_shingles(col: Column, k: int = 5, normalized: bool = False) -> Column:
    """Character k-gram array (JVM-side: sequence + transform + substring).

    Pass ``normalized=True`` when ``col`` is already a materialized normalized
    column — the lambda body references ``col`` once per element, so feeding
    it a non-trivial expression multiplies that expression's cost by the
    array length (see dedup.shingle_sets).
    """
    c = col if normalized else normalize_text(col)
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n),
                       lambda i: F.substring(c, i, k))


def word_shingles(col: Column, k: int = 3, as_words: bool = False) -> Column:
    """Word k-gram array; ``as_words=True`` when ``col`` is already a
    materialized word array (same per-element recomputation caveat)."""
    w = col if as_words else words(normalize_text(col))
    n = F.greatest(F.size(w) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.array_join(F.slice(w, i + F.lit(1), k), " "),
    )


def rolling_fingerprint(col: Column, k: int = 5) -> Column:
    """Rolling-hash fingerprint: min xxhash64 over the char k-gram set
    (a 1-permutation MinHash — stable under small edits, unlike md5).
    Hot paths should pass a pre-staged NORMALIZED column and normalize=False
    via char_shingles' caveat (the k-gram lambda references the normalized
    text per element)."""
    return F.array_min(
        F.transform(char_shingles(col, k), lambda s: F.xxhash64(s)))


# ---------------------------------------------------------------------------
# PII detection / scrubbing
# ---------------------------------------------------------------------------
# RE2-compatible patterns (no lookaround) so the same strings run in Spark
# (java.util.regex) and any RE2 engine used as an oracle.
#
# The IPv4 pattern (r16) uses an EXPLICIT ASCII boundary group instead of
# \b: Java's \b is Unicode-aware (an Arabic-Indic digit next to the quad
# suppresses the match) while RE2's and re.ASCII's \b are not, so the old
# pattern silently diverged from any RE2/DuckDB oracle on non-ASCII-
# adjacent IPs (caught by the engine-triangle differential test, which
# the fixture alone could not).  A boundary GROUP consumes its delimiter,
# so back-to-back IPs sharing one separator need a second pass — see
# _scrub_ipv4; misses are never adjacent, so two passes always complete.
_IPV4_CORE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
_IPV4_BOUNDED = rf"(^|[^0-9A-Za-z_])({_IPV4_CORE})($|[^0-9A-Za-z_])"
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", _IPV4_BOUNDED),
    ("phone", r"\+\d[\d-]{7,14}\d"),
)


def _scrub_ipv4(col: Column) -> Column:
    """Two-pass bounded-IPv4 replace (Java $-backrefs re-emit the
    consumed delimiters; an RE2 oracle mirrors with \\1<IPV4>\\3)."""
    for _ in range(2):
        col = F.regexp_replace(col, _IPV4_BOUNDED, "$1<IPV4>$3")
    return col


def pii_counts(col: Column,
               scrubbed: Optional[Column] = None) -> Dict[str, Column]:
    """Per-category PII counts = the placeholders :func:`scrub_pii`
    emits (r16 redesign): count what the scrub actually anonymized,
    derived from the scrubbed text by THREE cheap literal splits
    instead of extra full-text regex scans.  Pass ``scrubbed=`` when
    the scrub output is already staged (the dp_text_stats shape) and
    the counts add ZERO regex passes; otherwise the chain is computed
    here once.

    Semantics this buys, beyond the cost: back-to-back IPs sharing one
    delimiter both count (the scrub's second bounded pass recovers the
    consumed-delimiter miss), and PII EXPOSED by an earlier replacement
    counts too ('a@b.co10.0.0.1' is one email + one IP — the raw-scan
    form saw no IP boundary there).  Caveat: input already containing a
    literal placeholder token inflates that category's count."""
    if scrubbed is None:
        scrubbed = scrub_pii(col)
    return {name: F.size(F.split(scrubbed, f"<{name.upper()}>")) - F.lit(1)
            for name, _ in _PII_PATTERNS}


def scrub_pii(col: Column) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>``, ...).

    Pure ``regexp_replace`` chain — stays inside whole-stage codegen, so a
    100 TB scrub pass is a narrow-dependency scan with zero Python.
    Email runs first (its local part would otherwise be chewed up by the
    phone pattern's digit runs); IPv4 runs its two bounded passes."""
    out = F.regexp_replace(col, _PII_PATTERNS[0][1], "<EMAIL>")
    out = _scrub_ipv4(out)
    return F.regexp_replace(out, _PII_PATTERNS[2][1], "<PHONE>")


# ---------------------------------------------------------------------------
# benchmark-contamination detection
# ---------------------------------------------------------------------------
def ngram_hashes(col: Column, n: int = 8) -> Column:
    """xxhash64 of each word n-gram (8 bytes per n-gram instead of ~50 —
    the join key a 100 TB decontamination pass shuffles, when it shuffles
    at all).

    ``col`` must be a MATERIALIZED word-array column (see ``words``): the
    per-element shingle lambda references it, and higher-order functions
    re-evaluate non-cheap argument expressions once per element — passing
    raw text re-normalizes and re-splits it per n-gram (measured 26x slower
    at fixture scale)."""
    return F.transform(word_shingles(col, k=n, as_words=True),
                       lambda s: F.xxhash64(s))


def exploded_ngram_hashes(df: DataFrame, text_col: str = "text",
                          n: int = 8, *keep) -> DataFrame:
    """One (``*keep``, h) row per word-``n``-gram hash occurrence, with
    the word array STAGED before the n-gram lambda (the ngram_hashes
    caveat: an unstaged expression re-normalizes and re-splits the text
    once per n-gram) — THE shared n-gram definition every decontamination
    consumer (batch semi-join, streaming UDF set) must use."""
    staged = df.withColumn("__w", words(normalize_text(F.col(text_col))))
    return staged.select(
        *keep, F.explode(ngram_hashes(F.col("__w"), n)).alias("h"))


def contaminated_ids(docs: DataFrame, eval_docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n: int = 8) -> DataFrame:
    """ids of training docs that share ANY word n-gram with the eval corpus
    (the standard train/benchmark decontamination test).

    Scale shape: the eval corpus is tiny by construction, so its exploded
    n-gram hash set broadcasts; the training side is a single exploded scan
    semi-joined map-side — no shuffle of the 100 TB side.  Distinct runs on
    the surviving ids only.  Word arrays are staged before the n-gram
    lambdas (see ngram_hashes) on both sides via exploded_ngram_hashes."""
    d = exploded_ngram_hashes(docs, text_col, n, F.col(id_col))
    e = exploded_ngram_hashes(eval_docs, text_col, n).distinct()
    return (d.join(F.broadcast(e), "h", "left_semi")
            .select(id_col).distinct())


def contamination_frac(docs: DataFrame, eval_docs: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       n: int = 8) -> DataFrame:
    """(id, n_grams, n_contaminated, contamination_frac): the THRESHOLDED
    decontamination signal — for each training doc, the fraction of its
    word ``n``-gram occurrences present anywhere in the eval corpus.
    ``contaminated_ids`` above is the any-overlap boolean; published
    pipelines (Brown et al. 2020 appendix C; Lee et al. 2021 §6) filter
    or judge on an overlap FRACTION, which needs the per-doc count.

    Scale shape: identical to ``contaminated_ids`` — the tiny eval gram
    set broadcasts, the training side is one exploded scan with a
    map-side LEFT SEMI membership decided per occurrence, then one
    groupBy(id) roll-up; the 100 TB side never shuffles gram rows beyond
    the id-keyed count.  Every input doc emits one row (the shingler's
    >=1-gram contract; NULL text coalesces to the empty word array so
    the contract holds there too, matching
    ``dedup.decontaminate_cut(with_stats=True)``'s columns exactly).
    """
    staged = docs.withColumn(
        "__w", F.coalesce(words(normalize_text(F.col(text_col))),
                          F.array().cast("array<string>")))
    d = staged.select(F.col(id_col),
                      F.explode(ngram_hashes(F.col("__w"), n)).alias("h"))
    e = exploded_ngram_hashes(eval_docs, text_col, n).distinct() \
        .withColumn("__hit", F.lit(True))
    marked = d.join(F.broadcast(e), "h", "left")
    return (marked.groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.when(F.col("__hit"), 1).otherwise(0))
                 .cast("long").alias("n_contaminated"))
            .withColumn("contamination_frac",
                        F.round(F.col("n_contaminated")
                                / F.greatest(F.col("n_grams"), F.lit(1)),
                                6)))


def unigram_lm_fit(df: DataFrame, text_col: str = "text",
                   vocab_cap: int = 1 << 16,
                   cache_key: str | None = None,
                   store=None, store_token: str | None = None):
    """Fit the unigram LM artifact once: (vocab DataFrame [w, __c],
    corpus token total as a float).

    Same train-once posture as ``simsearch.kmeans_fit``/``pq_fit``: the
    vocabulary is bounded (<= vocab_cap rows) so eager materialization is
    a constant-size artifact, and the total is a single collected scalar.
    ``cache_key`` (pass only for immutable corpora) memoizes per
    (session, key, text_col, vocab_cap) — the fit is deterministic, so
    reuse changes nothing but the job count.

    ``store``/``store_token`` (an :class:`~.artifacts.ArtifactStore` and a
    corpus fingerprint) add CROSS-SESSION persistence: the vocab lands as
    parquet + the total in the artifact meta, and a fresh session loads
    both with ZERO fit jobs (the vocab comes back as a lazy parquet read
    over bounded storage).  A corpus write changes the token and refits.
    Requires ``cache_key`` (it names the artifact).
    """
    from .. import memo
    from .artifacts import store_tier

    def fit():
        toks = df.select(F.explode(words(F.lower(F.col(text_col))))
                         .alias("w"))
        counts = toks.groupBy("w").agg(F.count("*").alias("__c"))
        vocab = (counts.orderBy(F.col("__c").desc(), F.col("w").asc())
                 .limit(vocab_cap)
                 .localCheckpoint(eager=True))
        total = float(counts.agg(F.sum("__c")).collect()[0][0] or 0.0)
        return vocab, {"total": total}

    key = None if cache_key is None else (cache_key, text_col, vocab_cap)
    tier = store_tier("df", "unigram_lm", cache_key, store, store_token,
                      text_col, vocab_cap, spark=df.sparkSession)
    vocab, extra = memo.get("unigram_lm", key, fit, store=tier)
    return vocab, float(extra["total"])


def unigram_lm_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", vocab_cap: int = 1 << 16,
                      oov_count: float = 0.5, scale: int = 4,
                      cache_key: str | None = None,
                      store=None, store_token: str | None = None,
                      carry: "dict[str, Column] | None" = None
                      ) -> DataFrame:
    """(id, xent) — per-document cross-entropy under a corpus-fit unigram
    LM, the CCNet-style statistical quality filter (Wenzek et al. 2020
    fit a LM and drop high-perplexity documents; a unigram model keeps the
    whole computation relational).

    xent = -avg over the doc's tokens of ln(count(w) / T), where count(w)
    is the token's corpus frequency and T the corpus token total — high
    values mean improbable (noisy/garbled) text.  100 TB shape: one
    groupBy(word) shuffle for the counts, the vocabulary capped to the
    ``vocab_cap`` most frequent words via TakeOrderedAndProject
    (deterministic ties: count desc, word asc — never a global sort) and
    BROADCAST to the scoring join; out-of-vocabulary tokens score with the
    ``oov_count`` pseudo-count.  The corpus total rides a single-row
    crossJoin like the compiler's global aggregates.

    ``cache_key`` switches to the train-once artifact path
    (``unigram_lm_fit``): the fitted vocab (checkpointed, bounded) and the
    collected total scalar are reused across calls in the session, so a
    repeated scoring pass costs one broadcast join — not a vocabulary
    refit (the round-5 dp_lang_id regression).  With the default ``None``
    the plan stays fully lazy and single-pass, identical to before.

    ``carry`` (r17, guide §2.2 — shuffle fewer frames, not just fewer
    bytes) fuses row-local per-document expressions into the scoring
    aggregate: each ``name -> Column`` is evaluated once per input row
    (in the Project UNDER the explode's Generate, so a heavy expression
    is never re-evaluated per token), rides the existing partial-
    aggregate shuffle as a constant-per-group column, and comes back via
    ``first()``.  With ``carry`` set the output covers EVERY input
    document — ``explode_outer`` keeps token-less docs, whose xent stays
    NULL (no evidence; the NULL-token row is excluded from the avg and,
    in the inline-fit path, from the vocabulary counts and corpus total)
    — and the columns are ``(id, *carry, xent)``.  A caller that
    previously computed the carried frame separately and equi-joined it
    on the id therefore gets the same rows and values MINUS one
    exchange, one sort pair and one join: the motivating case is
    dp_lang_id's lang spine (see ``__spark_entry__``).  Default ``None``
    leaves every existing plan byte-identical.

    CAVEAT — carry NUMERIC columns, not strings: the carried value comes
    back via ``first()``, and a string-buffer declarative aggregate
    cannot use HashAggregate, so one string carry demotes the WHOLE
    scoring aggregate to SortAggregate — which sorts the full exploded
    token stream per partition before aggregating (measured: the Sort
    node sits under the partial aggregate).  A carry with an enumerable
    domain should be encoded to its domain index (``array_position``
    over the domain literal) and decoded after the aggregate
    (``element_at``) — see ``LANG_ID_DOMAIN`` and dp_lang_id.
    """
    if carry:
        bad = {n for n in carry} & {"id", "w", "xent", "__c", "__t",
                                    "__text"}
        if bad:
            raise ValueError(f"carry names collide with internals: {bad}")
        # carry expressions get their own Project: in a select list that
        # also holds a generator, Catalyst's ExtractGenerator trims
        # non-top-level aliases, so a named struct nested inside a carry
        # expression (e.g. lang_id's score struct) would lose its field
        # names and fail to resolve.  The extra Project is narrow and
        # collapses into the same stage.
        pre = df.select(F.col(id_col).alias("id"),
                        *[c.alias(n) for n, c in carry.items()],
                        F.col(text_col).alias("__text"))
        toks = pre.select(
            "id", *carry.keys(),
            F.explode_outer(words(F.lower(F.col("__text")))).alias("w"))
    else:
        toks = df.select(
            F.col(id_col).alias("id"),
            F.explode(words(F.lower(F.col(text_col)))).alias("w"))
    if cache_key is not None:
        vocab, total_v = unigram_lm_fit(df, text_col, vocab_cap, cache_key,
                                        store=store,
                                        store_token=store_token)
        scored = (toks.join(F.broadcast(vocab), "w", "left")
                  .withColumn("__t", F.lit(total_v)))
    else:
        # the NULL-w rows explode_outer adds for token-less docs carry no
        # evidence: they must not enter the vocabulary, the cap ordering
        # or the corpus total (carry-path only; the default path has none)
        fit_toks = toks.filter(F.col("w").isNotNull()) if carry else toks
        counts = fit_toks.groupBy("w").agg(F.count("*").alias("__c"))
        vocab = (counts.orderBy(F.col("__c").desc(), F.col("w").asc())
                 .limit(vocab_cap))
        total = counts.agg(F.sum("__c").cast("double").alias("__t"))
        scored = toks.join(F.broadcast(vocab), "w", "left").crossJoin(total)
    nll = -F.log(F.coalesce(F.col("__c").cast("double"), F.lit(oov_count))
                 / F.col("__t"))
    if carry:
        # avg ignores NULLs: a token-less doc's single NULL-w row yields
        # xent NULL — exactly the left-join miss the separate-frame form
        # produced for it
        nll = F.when(F.col("w").isNotNull(), nll)
    aggs = [F.first(n).alias(n) for n in (carry or ())]
    aggs.append(F.round(F.avg(nll), scale).alias("xent"))
    return scored.groupBy("id").agg(*aggs)
