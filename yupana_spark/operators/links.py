"""Predicate-rewriting external links: inverted-index text search and
related-items correlation.

Reference:
- yupana-external-links/.../ItemsInvertedIndexImpl.scala:109-169 —
  ``ItemsInvertedIndex_phrase = 'w1 w2 pre%'``: split the phrase, stem plain
  words, transliterate prefixes, intersect per-word posting lists, union
  across phrases (IN), rewrite the condition into a dimension-id semi-join
  (DimIdInExpr) / anti-join (DimIdNotInExpr, Expression.scala:639-659).
- yupana-external-links/.../RelatedItemsCatalogImpl.scala — phrase match
  finds transactions (receipts), then the condition becomes a tuple-IN over
  the receipt key: "other rows of the receipts that contain item X".

Spark design: posting-list iterators become DataFrames of matching keys; the
condition rewrite becomes a broadcast ``left_semi`` / ``left_anti`` join —
Catalyst then pushes the semi-join below projections.  An optional
materialized inverted index (token -> key parquet in the warehouse) covers
the repeated-query case; the default path filters the (small) item dimension
table directly with tokens() — one broadcast, no index maintenance.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.tokenizer import stem, tokens_column, transliterate
from ..schema import ExternalLink

INDEX_TABLE_SUFFIX = "_inverted_index"


def phrase_terms(phrase: str):
    """Split a phrase into (stemmed words, transliterated prefixes).

    ``word%`` is a prefix term (ItemsInvertedIndexImpl.dimIdsForPhrase).
    """
    words: List[str] = []
    prefixes: List[str] = []
    for raw in phrase.split(" "):
        if not raw:
            continue
        if raw.endswith("%"):
            p = raw[:-1].strip().lower()
            if p:
                prefixes.append(transliterate(p))
        else:
            words.append(transliterate(stem(raw.lower())))
    return words, prefixes


def phrase_match_ids(items: DataFrame, key_column: str, text_column: str,
                     phrases: Sequence[str]) -> DataFrame:
    """Keys of items whose tokenized text matches ANY phrase (all words of
    the phrase must match; prefixes match any token)."""
    toks = tokens_column(F.col(text_column))
    with_toks = items.select(F.col(key_column).alias("__key"),
                             toks.alias("__toks"))
    conds = []
    for phrase in phrases:
        words, prefixes = phrase_terms(phrase)
        sub = F.lit(True)
        for w in words:
            sub = sub & F.array_contains("__toks", w)
        for p in prefixes:
            sub = sub & F.exists("__toks", lambda t: t.startswith(p))
        conds.append(sub)
    if not conds:
        return with_toks.select("__key").limit(0)
    any_phrase = conds[0]
    for c in conds[1:]:
        any_phrase = any_phrase | c
    return with_toks.filter(any_phrase).select("__key").distinct()


# ---------------------------------------------------------------------------
# materialized inverted index (optional fast path)
# ---------------------------------------------------------------------------
def build_inverted_index(wh, link: ExternalLink) -> str:
    """Materialize (token, key) posting pairs into the warehouse.

    ≙ ItemsInvertedIndexImpl.putItemNames — the index is just an exploded
    token table; at scale it is partitioned/bucketed by token so a phrase
    lookup touches one partition per word.
    """
    items = link.source(wh.spark, wh.sf_dir)
    toks = tokens_column(F.col(link.text_column))
    index = (items.select(F.col(link.key_column).alias("key"),
                          F.explode(toks).alias("token"))
             .distinct())
    name = link.name + INDEX_TABLE_SUFFIX
    wh.write_table(name, index)
    return name


def indexed_match_ids(wh, link: ExternalLink,
                      phrases: Sequence[str]) -> Optional[DataFrame]:
    """Posting-list path over the materialized index: per-word key sets
    intersected via groupBy count (one shuffle on token, one on key)."""
    name = link.name + INDEX_TABLE_SUFFIX
    if not wh.exists(name):
        return None
    index = wh.read(name)
    out = None
    for phrase in phrases:
        words, prefixes = phrase_terms(phrase)
        # per-term posting sets intersected by chained semi-joins
        # (≙ SortedSetIterator.intersectAll over posting lists)
        per_term = [index.filter(F.col("token") == w).select("key")
                    for w in words]
        per_term += [index.filter(F.col("token").startswith(p))
                     .select("key").distinct() for p in prefixes]
        if not per_term:
            continue
        hits = per_term[0]
        for t in per_term[1:]:
            hits = hits.join(t, "key", "left_semi")
        hits = hits.select(F.col("key").alias("__key")).distinct()
        out = hits if out is None else out.unionByName(hits)
    return out.distinct() if out is not None else None
