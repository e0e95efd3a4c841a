"""Distributed byte-pair-encoding (BPE) merge training and encoding.

Classic corpus-level BPE (Sennrich, Haddow & Birch, "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016): train on the
DISTINCT-WORD frequency table, not the raw corpus — the symbol state is
one row per unique word, so a terabyte corpus collapses to a
few-million-row table after the first aggregate and every merge round
touches only that table.

Spark-first shape:

  word_freqs     one groupBy over the exploded token stream — the only
                 corpus-sized shuffle in the whole trainer.
  train round    explode adjacent symbol pairs weighted by word
                 frequency (codegen HOF, no UDF) -> one aggregate ->
                 argmax with a deterministic tie-break
                 (count DESC, left ASC, right ASC) -> ONE collected row
                 (a driver artifact like KMeans centroids) -> apply the
                 merge to the symbol arrays as a pure-codegen
                 ``aggregate()`` fold gated on containing the winning
                 pair (left-to-right non-overlapping replace, exactly
                 Sennrich's regex semantics; r12 — no Python boundary
                 anywhere in the round loop).
  encode         the learned merge list is a broadcast-sized driver
                 artifact; encoding a corpus encodes DISTINCT words once
                 and joins the token arrays back onto the token stream.

Cost: 2 jobs per merge round over the word table; ``localCheckpoint``
per round keeps the plan flat.  100 TB notes: the word table is
shuffle-partitioned by word; rounds never touch the corpus again.  For
very large merge budgets batch the pair-count aggregate (top-k merges
whose supports don't interact) — the round structure here favors
auditability (each learned merge is the true argmax at its rank).

Reference parity: no tokenizer surface exists in the reference engine
(cli.py); this module is part of the LLM-pipeline extension surface
(SURVEY §2.12).  The regex "BPE-ish" token counter lives in
text_analysis; this is the real merge-learning path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from subgraph_extractor_spark.operators.dedup import tokens

END_OF_WORD = "</w>"


def word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over lowercased whitespace tokens — the one
    corpus-sized aggregate; everything downstream runs on this table."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def initial_symbols(word_col) -> "F.Column":
    """Character symbols plus the end-of-word marker — codegen HOF
    (substr over an index sequence), no UDF."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: word_col.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_OF_WORD)))


def _adjacent_pairs(syms_col_name: str = "syms"):
    """Struct array of every adjacent symbol pair (overlapping, like
    Sennrich's get_stats) — pure codegen.  Precondition: the array has
    >= 2 elements (sequence() descends for negative spans under ANSI
    indexing; callers filter size >= 2 first)."""
    return F.expr(
        f"transform(sequence(0, size({syms_col_name}) - 2), "
        f"i -> struct({syms_col_name}[i] AS a, {syms_col_name}[i+1] AS b))"
    )


def merge_word(syms: list, a: str, b: str) -> list:
    """Left-to-right non-overlapping replacement of the adjacent pair
    (a, b) by the fused symbol — identical to Sennrich's
    ``re.sub(' '.join(pair), ''.join(pair), word)``."""
    out, i, n = [], 0, len(syms)
    fused = a + b
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(fused)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _contains_pair(a: str, b: str) -> "F.Column":
    """True iff ``syms`` contains (a, b) ADJACENT — pure codegen
    (zip_with each symbol with its successor, exists over the flags).
    zip_with pads the shorter (shifted-by-one) side with NULL, making
    the final element's flag NULL; exists() then returns NULL only
    when no TRUE flag exists, and a NULL when()-condition falls
    through to otherwise() — the unchanged-row branch — so the padding
    is correct by construction."""
    return (F.size("syms") >= 2) & F.exists(
        F.zip_with(
            F.col("syms"),
            F.slice(F.col("syms"), 2, F.size("syms")),
            lambda x, y: (x == F.lit(a)) & (y == F.lit(b)),
        ),
        lambda v: v,
    )


def _merge_fold(a: str, b: str) -> "F.Column":
    """:func:`merge_word` as a pure-codegen ``aggregate()`` fold — the
    r12 replacement for the per-round Arrow pandas_udf kernel (guide
    §4.1: built-ins over UDFs; A/B at sf0.1: merge phase 14.2 -> 4.6 s
    warm, train_bpe end-to-end 11.3 -> 7.3 s min-of-3, merges
    identical at every rank).  Append each symbol to the accumulator,
    fusing when the accumulator's tail equals ``a`` and the incoming
    symbol equals ``b``.  Left-to-right NON-OVERLAPPING semantics hold
    because a fused symbol ``a+b`` can never equal ``a`` (symbols are
    non-empty, so ``a+b`` is strictly longer than ``a``): a tail
    produced by a fusion never re-fuses with the next ``b`` — exactly
    merge_word's index skip."""
    al, bl, fused = F.lit(a), F.lit(b), F.lit(a + b)

    def step(acc, s):
        return F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == al) & (s == bl),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(fused)
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(F.col("syms"), F.array().cast("array<string>"), step)


def train_bpe(
    wf: DataFrame,
    num_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``num_merges`` BPE merges from a (word, freq) table.
    Returns [(left, right, pair_count), ...] in merge-rank order; stops
    early when the best remaining pair's count drops below
    ``min_count``.  Each round: one pair-count aggregate (codegen
    explode), one collected argmax row, one Arrow-batched merge
    application; symbol state is localCheckpoint-ed per round so the
    plan never deepens."""
    state = (
        wf.select("word", "freq", initial_symbols(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        best = (
            # fully-merged words (one symbol) have no adjacent pairs;
            # dropping them also guards sequence()'s descending branch
            state.filter(F.size("syms") >= 2)
            .select("freq", F.explode(_adjacent_pairs()).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        # r12: the merge application is a pure-codegen aggregate()
        # fold under a contains-the-pair guard (guide §4.1/§2.3) — no
        # Python boundary at all, and rows without the winning pair
        # adjacent are returned untouched (no new array).  The guard +
        # fold replaced the r11 Arrow pandas_udf kernel that rewrote
        # EVERY word's symbol array every round: A/B at sf0.1
        # (scripts/bpe_ab_r12.py, in git history; fresh sessions, min-of-3)
        # — Arrow-everything 11.28 s vs codegen+guard 7.25 s end-to-end,
        # merge phase 14.2 -> 4.6 s warm, merge lists identical.  A
        # filter/union split (Arrow kernel over hit rows only) was
        # measured FATAL: localCheckpoint keeps union partitioning, so
        # partitions double per round (131k tasks by round ~12).
        # EAGER deliberately (r11 A/B): a lazy checkpoint (the merge
        # riding the next round's collect as one job) measured
        # 9.09 -> 9.69 s bench-class at sf0.1 — the rounds are
        # compute-bound (pair explode + merge fold), not barrier-
        # bound, so halving the job count bought nothing.
        state = state.withColumn(
            "syms",
            F.when(_contains_pair(a, b), _merge_fold(a, b)).otherwise(
                F.col("syms")
            ),
        ).localCheckpoint(eager=True)
    return merges


def encode_words(wf: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, tokens array) — apply the learned merges in rank order to
    each distinct word.  The merge list is a driver artifact captured in
    the UDF closure (broadcast-sized: a vocabulary, not data)."""
    ranked = [(a, b) for a, b, _ in merges]

    @pandas_udf("array<string>")
    def apply_all(col: pd.Series) -> pd.Series:
        def enc(word: str) -> list:
            syms = list(word) + [END_OF_WORD]
            for a, b in ranked:
                syms = merge_word(syms, a, b)
            return syms

        return col.map(enc)

    return wf.select("word", apply_all(F.col("word")).alias("tokens"))


def encode_corpus(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """(id, tokens) per document: encode DISTINCT words once, then join
    the per-word token arrays back onto the ordered token stream and
    re-assemble — the corpus is never run through Python; only the
    unique-word table is."""
    stream = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    vocab = encode_words(
        stream.select("word").distinct(), merges
    )
    encoded = (
        stream.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tokens"))
                    ),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
    )
    # NULL / empty-text docs explode to zero rows — restore them with an
    # empty token array so the (id, tokens) per-document contract holds
    return docs.select(id_col).join(encoded, id_col, "left").select(
        id_col,
        F.coalesce("tokens", F.array().cast("array<string>")).alias("tokens"),
    )


def merge_table(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The learned merges as a DataFrame (rank, left, right, pair_count)
    — persist it next to the corpus so encoders don't retrain."""
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )
