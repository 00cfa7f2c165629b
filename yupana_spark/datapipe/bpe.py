"""Byte-pair-encoding tokenizer: sample-fit merges + distributed encode.

The repo's ``text.bpe_token_count`` is a regex ESTIMATE; this is the real
thing — the classic BPE construction (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units", public): start from
characters, iteratively merge the most frequent adjacent symbol pair, stop
at the target vocabulary size.

Scale posture (the house pattern for trained artifacts, same as
``simsearch.kmeans_fit`` / ``text.unigram_lm_fit``):

* ``bpe_fit`` trains DRIVER-SIDE on a bounded deterministic sample — word
  frequencies collapse a corpus sample into a small dict, exactly how
  production tokenizers are trained (on a corpus sample, never the full
  100 TB) — and memoizes per (session, cache_key).
* ``bpe_tokens`` applies the learned merge ranks corpus-wide as one
  Arrow-batched pandas UDF: per word, repeatedly merge the lowest-rank
  adjacent pair (the standard greedy apply); a per-batch word cache
  amortizes repeated words, which dominate any natural corpus.
* round-trip law: token concatenation restores each word exactly (the
  end-of-word marker closes the last token), so
  ``detok(tok(w)) == w`` for EVERY word, in- or out-of-vocabulary —
  the self-validating invariant the driver bundle checks per document.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_EOW = "</w>"      # end-of-word marker: normalized words are
                   # [a-z0-9]+, so it cannot collide with content


def bpe_fit(df: DataFrame, text_col: str = "text", n_merges: int = 256,
            sample_cap: int = 2048, id_col: str = "doc_id",
            cache_key: Optional[str] = None,
            store=None, store_token: Optional[str] = None
            ) -> List[Tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a bounded deterministic sample.

    Words come from the same normalization as every text operator
    (``text.words(normalize_text(...))``); each word is a symbol sequence
    of its characters with ``_EOW`` appended to the last one.  Returns the
    merge list in rank order — the whole trained artifact (deterministic:
    ties break lexicographically).

    ``store``/``store_token`` persist the merge table cross-session via
    the shared :class:`~.artifacts.ArtifactStore` (the structured cousin
    of ``bpe_save``/``bpe_load``): a fresh session loads the JSON with
    zero Spark jobs; a corpus write invalidates by token.
    """
    from .. import memo
    from .artifacts import store_tier

    key = None if cache_key is None else (cache_key, text_col, id_col,
                                          n_merges, sample_cap)
    tier = store_tier("json", "bpe", cache_key, store, store_token,
                      text_col, n_merges, sample_cap)

    def merges():
        # the store payload holds JSON pairs; the kept value is the tuple
        # list itself, so a memo hit returns the same object
        return [tuple(p) for p in memo.get("bpe_stored", key, lambda: (
            _bpe_learn(df, text_col, n_merges, sample_cap, id_col)),
            store=tier)[0]]

    return memo.get("bpe", None if key is None else (key, store_token),
                    merges)


def _bpe_learn(df: DataFrame, text_col: str, n_merges: int,
               sample_cap: int, id_col: str) -> tuple:
    """(merge list as JSON-ready pairs, {}) — the store-tier payload."""
    from .simsearch import sample_rows
    from .text import normalize_text, words

    sampled = sample_rows(df.select(F.col(id_col), F.col(text_col)),
                          sample_cap, id_col)
    rows = (sampled.select(F.explode(
        words(normalize_text(F.col(text_col)))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("c")).collect())
    vocab: Dict[Tuple[str, ...], int] = {}
    for r in rows:
        w = r["w"]
        syms = tuple(list(w[:-1]) + [w[-1] + _EOW])
        vocab[syms] = vocab.get(syms, 0) + int(r["c"])

    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Dict[Tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break                      # nothing repeats: stop early
        pair = best[0]
        merges.append(pair)
        merged = pair[0] + pair[1]
        out: Dict[Tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            if pair[0] not in syms:
                out[syms] = out.get(syms, 0) + c
                continue
            ns, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == pair[0]
                        and syms[i + 1] == pair[1]):
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            t = tuple(ns)
            out[t] = out.get(t, 0) + c
        vocab = out
    return [list(p) for p in merges], {}


def _encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    syms = list(word[:-1]) + [word[-1] + _EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokens(col: Column, merges: Sequence[Tuple[str, str]]) -> Column:
    """array<string> BPE tokens of a WORD-ARRAY column (pass the staged
    ``words(normalize_text(...))`` array).  One Arrow batch per task; a
    per-batch word->tokens cache collapses the natural-corpus word
    repetition, so the greedy merge loop runs once per DISTINCT word."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(ws: pd.Series) -> pd.Series:
        cache: Dict[str, List[str]] = {}
        out = []
        for arr in ws:
            toks: List[str] = []
            for w in (arr if arr is not None else []):
                t = cache.get(w)
                if t is None:
                    t = _encode_word(w, ranks)
                    cache[w] = t
                toks.extend(t)
            out.append(toks)
        return pd.Series(out)

    return tok(col)


def bpe_save(merges: Sequence[Tuple[str, str]], path: str) -> None:
    """Persist the trained artifact (rank-ordered merge list) as JSON —
    the production posture: train once at corpus build, ship the file with
    the dataset so every consumer tokenizes identically."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump([list(p) for p in merges], f)


def bpe_load(path: str) -> List[Tuple[str, str]]:
    import json

    with open(path) as f:
        return [tuple(p) for p in json.load(f)]


def bpe_detokenize(tokens: Sequence[str]) -> str:
    """Inverse of ``bpe_tokens`` for one document: tokens concatenate into
    words (the end-of-word marker closes each word), words join with a
    single space — exactly the normalized text the words came from."""
    text = "".join(tokens)
    return " ".join(w for w in text.split(_EOW) if w)


def bpe_roundtrip_ok(word_col: Column, token_col: Column) -> Column:
    """TRUE iff the document's tokens concatenate back to its exact word
    sequence — the per-row self-validation law (JVM-side: join both sides
    to strings and compare; no Python in the check itself)."""
    return F.when(F.size(word_col) == 0, F.size(token_col) == 0) \
        .otherwise(F.concat(F.array_join(word_col, _EOW), F.lit(_EOW))
                   == F.array_join(token_col, ""))
