"""``tokens`` function: the YupanaQL item tokenizer.

Reference behavior (yupana-utils):
- TokenizerBase.scala — a character-level splitter that, beyond breaking on
  excluded characters, ALSO splits at letter/digit boundaries while keeping
  the compound ("аи95" -> ["аи95", "аи", "95"]), keeps decimal numbers
  ("1.256281", "39.80"), keeps '/' -joined short tokens ("ж/р"), and drops
  delimiters like '-' entirely ("аи-95" -> ["аи", "95"]).
- RussianTokenizer.scala:23-49 — included character set, Lucene
  RussianLightStemmer per token.
- RussianTransliterator.scala — RU -> latin table ("щ"->"shch", "ю"->"yu",
  "я"->"ya", case-preserving).

The stemmer below implements the published RussianLightStemmer algorithm
(Savoy's light stemming; org.apache.lucene.analysis.ru, Apache-2.0 public
code): remove one case ending guarded by minimum lengths, then normalize.
Goldens from yupana-utils/src/test validate the port (tests/test_tokenizer.py).

Exposed to Spark as a vectorized Pandas UDF (Arrow batches) — the one
hot-path Python in the engine (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Callable, List, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import memo

# ---------------------------------------------------------------------------
# Russian light stemmer (Lucene RussianLightStemmer algorithm)
# ---------------------------------------------------------------------------
_END4 = ("иями", "оями")
_END3 = ("иям", "иях", "оях", "ями", "оям", "оьв", "ами", "его", "ему",
         "ери", "ими", "ого", "ому", "ыми", "оев")
_END2 = ("ая", "яя", "ях", "юю", "ах", "ею", "их", "ия", "ию", "ьв", "ою",
         "ую", "ям", "ых", "ея", "ам", "ем", "ей", "ём", "ев", "ий", "им",
         "ое", "ой", "ом", "ов", "ые", "ый", "ым", "ми")
_END1 = set("аеиоуйыяь")


def _remove_case(w: str) -> str:
    n = len(w)
    if n > 6 and w.endswith(_END4):
        return w[:-4]
    if n > 5 and w.endswith(_END3):
        return w[:-3]
    if n > 4 and w.endswith(_END2):
        return w[:-2]
    if n > 3 and w[-1] in _END1:
        return w[:-1]
    return w


def _normalize_stem(w: str) -> str:
    if len(w) > 3:
        last = w[-1]
        if last == "ь":
            return w[:-1]
        if last == "и" and w[-2] in ("е", "и"):
            return w[:-1]
        if last == "н" and w[-2] == "н":
            return w[:-1]
    return w


def stem_ru(word: str) -> str:
    return _normalize_stem(_remove_case(word))


def stem(word: str) -> str:
    """Per-token stem (tokens are already lowercased by the tokenizer)."""
    return stem_ru(word.lower())


# ---------------------------------------------------------------------------
# transliteration (RussianTransliterator.scala table)
# ---------------------------------------------------------------------------
_TRANSLIT_LOWER = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e", "ё": "e",
    "ж": "zh", "з": "z", "и": "i", "й": "j", "к": "k", "л": "l", "м": "m",
    "н": "n", "о": "o", "п": "p", "р": "r", "с": "s", "т": "t", "у": "u",
    "ф": "f", "х": "h", "ц": "c", "ч": "ch", "ш": "sh", "щ": "shch",
    "ъ": "", "ы": "y", "ь": "", "э": "e", "ю": "yu", "я": "ya",
}
_TRANSLIT = dict(_TRANSLIT_LOWER)
for _ch, _out in _TRANSLIT_LOWER.items():
    _TRANSLIT[_ch.upper()] = _out.upper()


def transliterate(s: str) -> str:
    return "".join(_TRANSLIT.get(ch, ch) for ch in s)


# ---------------------------------------------------------------------------
# tokenizer (TokenizerBase.scala semantics)
# ---------------------------------------------------------------------------
_EXTRA_INCLUDED = set("/.,\\%*")


def _included(ch: str) -> bool:
    return (ch.isdigit() or ("a" <= ch <= "z") or ("A" <= ch <= "Z")
            or ("а" <= ch.lower() <= "я") or ch.lower() == "ё"
            or ch in _EXTRA_INCLUDED)


def tokenize(text: Optional[str], do_stem: bool = True) -> List[str]:
    """Split -> (stem) each token; compounds kept at letter/digit splits.

    A faithful re-expression of TokenizerBase.tokenize: ``part`` is the
    current fine-grained token, ``compound`` the coarse token since the last
    hard delimiter; boundaries decide which of the two are emitted and
    whether the delimiter survives inside the compound.
    """
    if text is None:
        return []
    out: List[str] = []

    def emit(tok: str) -> None:
        tok = tok.strip()
        if not tok:
            return
        if do_stem:
            tok = stem_ru(tok)
        if tok:
            out.append(tok)

    part: List[str] = []      # current token
    compound: List[str] = []  # token incl. soft splits since hard delimiter

    def flush(emit_compound: bool = True) -> None:
        emit("".join(part))
        if emit_compound and compound and len(compound) > len(part):
            emit("".join(compound))
        part.clear()
        compound.clear()

    n = len(text)
    for i, ch in enumerate(text):
        low = ch.lower()
        prev = text[i - 1] if i > 0 else " "
        nxt = text[i + 1] if i < n - 1 else " "
        if ch in (" ", "\t"):
            flush()
            continue
        if not _included(ch):
            # hard delimiter, excluded from parts and compounds ("аи-95")
            flush()
            continue
        if ch in "/%\\" or (ch == "," and not (prev.isdigit() and nxt.isdigit())):
            # split; delimiter excluded from parts but kept in the compound
            emit("".join(part))
            if compound:
                compound.append(low)
            part.clear()
            continue
        if (ch in "*.") and not (prev.isdigit() and nxt.isdigit()):
            flush()
            continue
        if part and ((prev.isdigit() and ch.isalpha())
                     or (prev.isalpha() and ch.isdigit())):
            # soft split: emit the finished part, keep building the compound
            emit("".join(part))
            part.clear()
        part.append(low)
        compound.append(low)
    flush()
    # dedupe while keeping order? reference emits duplicates; keep them.
    return out


def stemmed_tokens(text: str) -> List[str]:
    return tokenize(text, do_stem=True)


def transliterated_tokens(text: str) -> List[str]:
    """stemmedTokens -> transliterate (TokenizerBase.transliteratedTokens)."""
    return [t for t in (transliterate(w) for w in stemmed_tokens(text)) if t]


def tokenize_for_index(text: Optional[str]) -> List[str]:
    """The tokens() function surface: stem + transliterate."""
    if text is None:
        return []
    return transliterated_tokens(text)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------
@F.pandas_udf(T.ArrayType(T.StringType()))
def _tokens_udf(s: pd.Series) -> pd.Series:
    return s.map(tokenize_for_index)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _tokens_arr_udf(s: pd.Series) -> pd.Series:
    def per_row(arr):
        if arr is None:
            return []
        out: List[str] = []
        for item in arr:
            out.extend(tokenize_for_index(item))
        return out

    return s.map(per_row)


def tokens_column(col: Column, is_array: bool = False,
                  fn: Optional[Callable] = None) -> Column:
    """tokens() as a Column; ``fn`` overrides the tokenizer (Schema hook)."""
    if fn is None:
        return _tokens_arr_udf(col) if is_array else _tokens_udf(col)
    return memo.get("custom_tokens_udf", (fn, is_array),
                    lambda: _custom_udf(fn, is_array))(col)


def _custom_udf(fn: Callable, is_array: bool):
    if is_array:
        @F.pandas_udf(T.ArrayType(T.StringType()))
        def custom_arr(s: pd.Series) -> pd.Series:
            def per_row(arr):
                out: List[str] = []
                for item in arr or []:
                    out.extend(fn(item))
                return out

            return s.map(per_row)

        return custom_arr

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def custom(s: pd.Series) -> pd.Series:
        return s.map(lambda x: [] if x is None else fn(x))

    return custom
