"""Spelling correction — Database::get_spelling_suggestion.

Reference algorithm (api/database.cc:400-470 + glass spelling table,
backends/glass/glass_spelling.h:68-124): candidate words are generated by
trigram overlap, scored by Damerau-Levenshtein edit distance
(ins/del/sub/transpose — api/editdistance.cc), pick the minimum distance
with word frequency as tie-break; suggestions beyond ``max_edit_distance``
are rejected, as is suggesting the word itself.

Our word-frequency source is the dictionary's termfreq (the reference keeps
a separate spelling table with explicit add_spelling frequencies — we treat
every indexed term as a spelling candidate, which is FLAG_SPELLING over the
whole corpus).

Two paths:
- ``suggest``: trigram-prefiltered (the scale path — candidate set is the
  trigram-join, never the whole vocabulary);
- ``suggest_exhaustive``: full-vocabulary scan (small vocabularies / oracle
  parity, SQL-expressible via damerau_levenshtein).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from .indexer import IndexTables


def edit_distance(a: str, b: str) -> int:
    """Damerau-Levenshtein (optimal string alignment) —
    api/editdistance.cc semantics: ins/del/sub cost 1, adjacent transposition
    cost 1."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _trigrams(word: str) -> list[str]:
    """Fragment decomposition — faithful port of
    GlassSpellingTable::toggle_word (glass_spelling.cc:212-254):
    Head = 'H'+first two chars, Tail = 'T'+last two, Bookends =
    'B'+first+last for words ≤4 chars (catches middle transposition /
    middle edit in short words), Middles = 'M'+every 3-gram."""
    if len(word) <= 1:
        return []
    frags = {f"H{word[:2]}", f"T{word[-2:]}"}
    if len(word) <= 4:
        frags.add(f"B{word[0]}{word[-1]}")
    if len(word) > 2:
        for start in range(len(word) - 2):
            frags.add(f"M{word[start:start + 3]}")
    return sorted(frags)


def trigram_table(dictionary: DataFrame) -> DataFrame:
    """(trigram, term, freq) — build once, reuse across suggestions."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms = pdf["term"].to_numpy(dtype=object)
            freqs = pdf["termfreq"].to_numpy()
            t_out, g_out, f_out = [], [], []
            for i in range(len(terms)):
                for g in _trigrams(terms[i]):
                    t_out.append(terms[i])
                    g_out.append(g)
                    f_out.append(int(freqs[i]))
            yield pd.DataFrame(
                {"trigram": g_out, "term": t_out, "freq": f_out}
            )

    return dictionary.select("term", "termfreq").mapInPandas(
        gen, "trigram string, term string, freq long"
    )


def _dist_col(word: str, metric: str):
    """Distance column: 'osa' via pandas UDF (reference semantics),
    'levenshtein' via the built-in JVM function (SQL-oracle-portable)."""
    if metric == "levenshtein":
        return F.levenshtein(F.lit(word), F.col("term"))
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    @pandas_udf(IntegerType())
    def dist(terms: pd.Series) -> pd.Series:
        vals = terms.to_numpy(dtype=object)
        out = np.empty(len(vals), dtype=np.int32)
        for i in range(len(vals)):
            out[i] = edit_distance(word, vals[i])
        return pd.Series(out)

    return dist(F.col("term"))


def _pick_best(
    cands: DataFrame, word: str, max_edit_distance: int, metric: str = "osa"
) -> DataFrame:
    # JVM-side length band below the distance computation: one edit changes
    # the length by at most 1, so |len(term) - len(word)| > k terms can
    # never pass the dist ≤ k filter — prune them before any (Python) UDF.
    scored = (
        cands.filter(F.col("term") != word)
        .filter(
            F.abs(F.length("term") - F.lit(len(word)))
            <= F.lit(max_edit_distance)
        )
        .withColumn("dist", _dist_col(word, metric))
        .filter(F.col("dist") <= max_edit_distance)
    )
    return scored.orderBy(
        F.asc("dist"), F.desc("freq"), F.asc("term")
    ).limit(1).select("term", "dist", "freq")


def suggest(
    spark,
    index: IndexTables,
    word: str,
    max_edit_distance: int = 2,
    trigrams: DataFrame | None = None,
) -> str | None:
    """Trigram-prefiltered suggestion (the scale path).

    Reference-faithful guards (Database::get_spelling_suggestion,
    api/database.cc:400-470):
    - words of length ≤ 1 (or k = 0) get no suggestion;
    - the edit budget is clamped to len(word) − 1;
    - if the word itself is indexed with a frequency HIGHER than the best
      candidate's, no suggestion is made (freq_best < freq_exact → "");
      an equally- or less-frequent exact match still yields the suggestion.
    """
    if len(word) <= 1 or max_edit_distance == 0:
        return None
    max_edit_distance = min(max_edit_distance, len(word) - 1)
    tri = trigrams if trigrams is not None else trigram_table(index.dictionary)
    target = local_df(spark, [(g,) for g in _trigrams(word)], "trigram string")
    cands = (
        tri.join(F.broadcast(target), "trigram")
        .groupBy("term")
        .agg(F.max("freq").alias("freq"))
    )
    rows = _pick_best(cands, word, max_edit_distance).collect()
    if not rows:
        return None
    exact = (
        index.dictionary.filter(F.col("term") == word)
        .select("termfreq")
        .collect()
    )
    freq_exact = int(exact[0]["termfreq"]) if exact else 0
    if int(rows[0]["freq"]) < freq_exact:
        return None
    return rows[0]["term"]


def suggest_exhaustive(
    spark,
    index: IndexTables,
    word: str,
    max_edit_distance: int = 2,
    metric: str = "osa",
) -> DataFrame:
    """Full-vocabulary suggestion as a DataFrame (term, dist, freq).

    metric='levenshtein' uses the JVM built-in — SQL-oracle-comparable
    (DuckDB levenshtein); metric='osa' is the reference's
    ins/del/sub/transpose distance (DuckDB's damerau_levenshtein is FULL
    DL, which differs from OSA on some pairs — tested)."""
    cands = index.dictionary.select("term", F.col("termfreq").alias("freq"))
    return _pick_best(cands, word, max_edit_distance, metric=metric)
