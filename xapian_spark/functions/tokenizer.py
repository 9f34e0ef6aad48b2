"""Tokenizers.

``xapian_tokenize`` is a faithful re-expression of the reference tokenizer
state machine ``parse_terms`` (xapian-core/queryparser/termgenerator_internal.cc:189-285)
with its helper predicates (same file :50-139):

- word characters = Unicode categories Lu Ll Lt Lm Lo Mn Me Mc Nd Nl No Pc
  (xapian-core/include/xapian/unicode.h:355-369) — note ``_`` is a wordchar
  (category Pc), so ``snake_case`` is ONE term;
- acronym folding: ``U.N.C.L.E`` → ``uncle`` when ≥2 uppercase-ASCII letters
  separated by ``.`` and not followed by a wordchar;
- infix joins between wordchars: ``'`` ``&`` U+00B7 U+05F4 U+2027 (Unicode
  apostrophes U+2019/U+201B map to ``'``) — ``AT&T`` → ``at&t``,
  ``don't`` → ``don't``;
- digit-infix between digits: ``,`` ``.`` ``;`` + Unicode separators —
  ``1,000.5`` is one term;
- soft hyphen / zero-width (non-)joiner / word joiners elided inside words
  (UNICODE_IGNORE);
- trailing ``+``/``#`` kept, at most 3, dropped if a wordchar follows
  (``c++``, ``c#``; ``fish+chips`` → ``fish``, ``chips``);
- terms longer than 64 **bytes** (UTF-8) are dropped
  (max_word_length, termgenerator_internal.h:45).

Stemming strategy is STEM_NONE for the source-code corpus (the pure-Python
oracle is configured identically); positions are 1-based emission order like
``TermGenerator`` (``++cur_pos``, termgenerator_internal.cc:346).

``simple_tokenize`` is a lowercase-whitespace tokenizer used for the generic
benchmark ``documents`` table so the DuckDB oracle SQL can reproduce it
exactly (``string_split``).

Both are exposed as Arrow-vectorized pandas UDF factories — data transfer is
Arrow-batched (no row-at-a-time pickling), per the project's input_hint.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import numpy as np
import pandas as pd

MAX_WORD_LENGTH = 64  # bytes, termgenerator_internal.h:45

# ---------------------------------------------------------------------------
# ASCII fast path: a single regex that is EXACTLY equivalent to parse_terms
# for ASCII input (no UNICODE_IGNORE chars exist in ASCII).  Possessive
# quantifiers (Python ≥3.11) prevent backtracking so the match behaves like
# the reference's greedy one-pass state machine.  Alternation order matters:
# the acronym rule is attempted first, like parse_terms (:232-252).
# test_tokenizer.py asserts equivalence with the general state machine on
# randomized inputs.
# ---------------------------------------------------------------------------
_ASCII_TOKEN_RX = re.compile(
    r"""
    (?P<acro>[A-Z](?:\.[A-Z])+\.?+(?![A-Za-z0-9_]))     # U.N.C.L.E / P.T.O.
  | (?P<word>
      [A-Za-z0-9_]++
      (?:                                               # infix joins
        (?:
           (?<=[0-9])[.,;](?=[0-9])                     # digit-infix . , ;
         | (?<=[^0-9])['&](?=[A-Za-z0-9_])              # ' & (prev non-digit)
         | ['&](?=[A-Za-z_])                            # ' & (next non-digit)
        )
        [A-Za-z0-9_]++
      )*+
      (?:[+#]{1,3}(?![+#A-Za-z0-9_]))?+                 # c++ / c# suffixes
    )
    """,
    re.X,
)

_WORDCHAR_CATS = frozenset(
    ["Lu", "Ll", "Lt", "Lm", "Lo", "Mn", "Me", "Mc", "Nd", "Nl", "No", "Pc"]
)

# check_infix (termgenerator_internal.cc:81-102): map → replacement or None=elide.
_INFIX = {
    "'": "'",
    "&": "&",
    "·": "·",
    "״": "״",
    "‧": "‧",
    "’": "'",
    "‛": "'",
    "‌": None,
    "‍": None,
    "⁠": None,
    "﻿": None,
    "­": None,  # soft hyphen
}

# check_infix_digit (termgenerator_internal.cc:104-126).
_INFIX_DIGIT = {
    ",": ",",
    ".": ".",
    ";": ";",
    ";": ";",
    "։": "։",
    "؍": "؍",
    "߸": "߸",
    "⁄": "⁄",
    "︐": "︐",
    "︓": "︓",
    "︔": "︔",
    "​": None,
    "‌": None,
    "‍": None,
    "⁠": None,
    "﻿": None,
}


@lru_cache(maxsize=None)
def _char_class(ch: str) -> int:
    """0 = not a wordchar, 1 = wordchar, 2 = decimal digit (also a wordchar)."""
    cat = unicodedata.category(ch)
    if cat == "Nd":
        return 2
    return 1 if cat in _WORDCHAR_CATS else 0


def xapian_tokenize(text: str) -> list[str]:
    """Tokenize one string exactly like ``parse_terms`` (STEM_NONE path).

    Returns terms in positional order (TermGenerator assigns ++cur_pos per
    emitted term, termgenerator_internal.cc:346); over-length terms are
    dropped and do NOT consume a position (the action returns early before
    add_posting, :333-346).

    ASCII input takes the regex fast path (~20× faster, equivalent by
    construction + property-tested); anything else runs the full state
    machine below.
    """
    if text.isascii():
        # findall materializes the (acro, word) group tuples in C — no
        # Match objects, no per-token group() calls (the inversion kernel's
        # hottest line; ~25% of tokenizer time in profile)
        out = []
        for a, w in _ASCII_TOKEN_RX.findall(text):
            t = a.replace(".", "").lower() if a else w.lower()
            if len(t) <= MAX_WORD_LENGTH:
                out.append(t)
        return out
    return _xapian_tokenize_slow(text)


def _xapian_tokenize_slow(text: str) -> list[str]:
    terms: list[str] = []
    n = len(text)
    i = 0
    cls = _char_class
    while True:
        # Advance to the start of the next term (parse_terms :223-229).
        while i < n and cls(text[i]) == 0:
            i += 1
        if i >= n:
            return terms

        # Acronym rule (:232-252): uppercase-ASCII initials joined by '.'.
        if "A" <= text[i] <= "Z":  # U_isupper is ASCII-only (:51-55)
            p = i
            acro: list[str] = []
            while True:
                acro.append(text[p].lower())
                p += 1
                if p < n and text[p] == ".":
                    p += 1  # the '.' is consumed even if the run ends here
                    if p < n and "A" <= text[p] <= "Z":
                        continue
                break
            # "One letter does not make an acronym!" (:243) and no wordchar
            # may follow (:247-249).
            if len(acro) > 1 and (p >= n or cls(text[p]) == 0):
                i = p
                _emit(terms, "".join(acro))
                continue
            # else: fall through, re-scan from i as a normal term.

        term_chars: list[str] = []
        ch = text[i].lower()
        prev_cls = cls(text[i])
        while True:
            # Consume a run of wordchars (:255-261).
            while True:
                term_chars.append(ch)
                i += 1
                if i >= n:
                    _emit(terms, "".join(term_chars))
                    return terms
                c = text[i]
                k = cls(c)
                if k == 0:
                    break
                ch = c.lower()
                prev_cls = k
            # Non-wordchar: infix only if a wordchar follows it (:262-276).
            if i + 1 >= n:
                break
            nxt = text[i + 1]
            knext = cls(nxt)
            if knext == 0:
                break
            infix_src = text[i]
            if prev_cls == 2 and knext == 2:
                if infix_src not in _INFIX_DIGIT:
                    break
                rep = _INFIX_DIGIT[infix_src]
            else:
                if infix_src not in _INFIX:
                    break
                rep = _INFIX[infix_src]
            if rep is not None:
                term_chars.append(rep)
            ch = nxt.lower()
            prev_cls = knext
            i += 1

        # Trailing +/# suffix rule (:283-297), max 3, dropped if a wordchar
        # follows immediately ("fish+chips").
        base_len = len(term_chars)
        count = 0
        hit_end = False
        while i < n and text[i] in "+#":
            count += 1
            if count > 3:
                del term_chars[base_len:]
                break
            term_chars.append(text[i])
            i += 1
            if i >= n:
                hit_end = True
                break
        if not hit_end and count <= 3 and i < n and cls(text[i]) != 0:
            del term_chars[base_len:]

        _emit(terms, "".join(term_chars))
        if hit_end:
            return terms


def _emit(terms: list[str], term: str) -> None:
    if len(term.encode("utf-8")) <= MAX_WORD_LENGTH:
        terms.append(term)


def simple_tokenize(text: str) -> list[str]:
    """Lowercase whitespace tokenizer (oracle-SQL-reproducible)."""
    return text.lower().split()


def tokenize_series(texts: pd.Series, mode: str = "xapian") -> pd.Series:
    """Batch tokenizer for pandas UDF use → Series of list[str]."""
    fn = xapian_tokenize if mode == "xapian" else simple_tokenize
    vals = texts.to_numpy(dtype=object)
    out = np.empty(len(vals), dtype=object)
    for j in range(len(vals)):
        t = vals[j]
        out[j] = fn(t) if isinstance(t, str) else []
    return pd.Series(out, index=texts.index)


# ---------------------------------------------------------------------------
# CJK / unbroken-script n-gram segmentation (FLAG_NGRAMS).
# Reference: queryparser/word-breaker.cc (is_unbroken_script table +
# NgramIterator) driven from termgenerator_internal.cc:145-186.
# ---------------------------------------------------------------------------

# Last codepoint of alternating not-unbroken / unbroken ranges
# (word-breaker.cc:60-127) — bisect parity decides membership.
_UNBROKEN_SPLITS = (
    0x0E00 - 1, 0x0EFF,          # Thai, Lao
    0x1000 - 1, 0x109F,          # Myanmar
    0x1100 - 1, 0x11FF,          # Hangul Jamo
    0x1780 - 1, 0x17FF,          # Khmer
    0x19E0 - 1, 0x19FF,          # Khmer Symbols
    0x2E80 - 1, 0x9FFF,          # CJK radicals … Unified Ideographs
    0xA700 - 1, 0xA71F,          # Modifier Tone Letters
    0xA960 - 1, 0xA97F,          # Hangul Jamo Extended-A
    0xA9E0 - 1, 0xA9FF,          # Myanmar Extended-B
    0xAA60 - 1, 0xAA7F,          # Myanmar Extended-A
    0xAC00 - 1, 0xD7FF,          # Hangul Syllables + Jamo Extended-B
    0xF900 - 1, 0xFAFF,          # CJK Compatibility Ideographs
    0xFE30 - 1, 0xFE4F,          # CJK Compatibility Forms
    0xFF65 - 1, 0xFFDC,          # Halfwidth Katakana and Hangul
    0x1AFF0 - 1, 0x1B16F,        # Kana Extended/Supplement
    0x1F200 - 1, 0x1F2FF,        # Enclosed Ideographic Supplement
    0x20000 - 1, 0x2A6DF,        # CJK Ext B
    0x2A700 - 1, 0x2EE5F,        # CJK Ext C-F, I
    0x2F800 - 1, 0x2FA1F,        # CJK Compat Ideographs Supplement
    0x30000 - 1, 0x323AF,        # CJK Ext G-H
)


def _is_unbroken_script(cp: int) -> bool:
    from bisect import bisect_left

    return bool(bisect_left(_UNBROKEN_SPLITS, cp) & 1)


def _is_unbroken_wordchar(ch: str) -> bool:
    return _is_unbroken_script(ord(ch)) and _char_class(ch) != 0


def ngram_tokenize_mixed(text: str) -> list[tuple[str, bool]]:
    """FLAG_NGRAMS tokenization: list of (term, positional).

    Unbroken-script spans (CJK, Thai, …) emit the NgramIterator sequence —
    u0, b01, u1, b12, …, u_{n-1} — where only the UNIGRAMS carry positions
    (break_words: ``with_pos = with_positions && tk.unigram()``,
    termgenerator_internal.cc:170-176).  Everything else tokenizes exactly
    like xapian_tokenize (all positional).  Terms end at script boundaries
    like the reference (:241-243).
    """
    out: list[tuple[str, bool]] = []
    n = len(text)
    i = 0
    while i < n:
        if _is_unbroken_wordchar(text[i]):
            j = i
            while j < n and _is_unbroken_wordchar(text[j]):
                j += 1
            span = text[i:j]
            for k in range(len(span)):
                out.append((span[k], True))
                if k + 1 < len(span):
                    out.append((span[k] + span[k + 1], False))
            i = j
        else:
            j = i
            while j < n and not _is_unbroken_wordchar(text[j]):
                j += 1
            for t in xapian_tokenize(text[i:j]):
                out.append((t, True))
            i = j
    return out


def wordbreak_tokenize_mixed(
    text: str, lexicon: frozenset[str] | set[str]
) -> list[str]:
    """FLAG_WORD_BREAKS analog (word-breaker.cc WordIterator /
    get_icu_words, driven from termgenerator_internal.cc:149-162):
    unbroken-script spans are segmented into WORDS — every one positional,
    unlike FLAG_NGRAMS' positionless bigrams — and all other text
    tokenizes exactly like xapian_tokenize.

    ICU is not available in this environment, so segmentation is greedy
    longest-match ("maximum matching") against an injectable ``lexicon``
    of words — the same dictionary-driven scheme ICU's CJK BreakIterator
    uses, with the dictionary as the injection point.  Codepoints starting
    no lexicon word fall back to single-character words, so segmentation
    is total and deterministic for any lexicon including the empty one.
    """
    out: list[str] = []
    max_len = max((len(w) for w in lexicon), default=1)
    n = len(text)
    i = 0
    while i < n:
        if _is_unbroken_wordchar(text[i]):
            j = i
            while j < n and _is_unbroken_wordchar(text[j]):
                j += 1
            span = text[i:j]
            k = 0
            while k < len(span):
                match = None
                for L in range(min(max_len, len(span) - k), 1, -1):
                    if span[k : k + L] in lexicon:
                        match = span[k : k + L]
                        break
                if match is None:
                    match = span[k]  # single-char fallback
                out.append(match)
                k += len(match)
            i = j
        else:
            j = i
            while j < n and not _is_unbroken_wordchar(text[j]):
                j += 1
            out.extend(xapian_tokenize(text[i:j]))
            i = j
    return out


#: Demo word-break lexicon for FLAG_WORD_BREAKS (word-breaker.cc ships no
#: dictionary either — ICU's comes from the OS).  A small set of very
#: common Chinese/Japanese words so the maximum-matching segmenter is
#: usable out of the box; production deployments inject their own lexicon
#: (e.g. a frequency-pruned dictionary table broadcast per executor).
DEMO_WORD_BREAK_LEXICON: frozenset[str] = frozenset(
    {
        # Chinese — common nouns/verbs/function words
        "中国", "我们", "你们", "他们", "什么", "没有", "可以", "知道",
        "现在", "时候", "自己", "这个", "那个", "因为", "所以", "但是",
        "如果", "已经", "还是", "就是", "人民", "工作", "学习", "学生",
        "老师", "朋友", "今天", "明天", "昨天", "时间", "问题", "世界",
        "国家", "政府", "公司", "经济", "发展", "技术", "计算机", "电脑",
        "软件", "程序", "数据", "搜索", "引擎", "索引", "查询", "文档",
        # Japanese — common words (kana sequences break on script anyway;
        # these cover kanji compounds)
        "日本", "東京", "会社", "仕事", "学校", "先生", "電話", "時間",
        "問題", "世界", "検索", "索引", "文書", "言葉", "漢字",
    }
)
