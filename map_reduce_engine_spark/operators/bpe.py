"""BPE tokenizer training as an iterative DataFrame loop.

Byte-pair-encoding merge training (Sennrich et al., ACL'16) — the step that
turns a cleaned corpus into a tokenizer. The classic trainer operates on the
word-frequency dictionary, not the corpus, and so does this one: after ONE
corpus-sized aggregate (word counts), every merge round runs over the
word-type table — vocabulary-sized by Heaps' law (~corpus^0.5 distinct
words), independent of corpus size. That is what makes BPE training feasible
at 100 TB: the corpus is touched once.

The loop state is ONE ROW PER WORD TYPE, (word, wcnt, syms ARRAY<STRING>) —
not the exploded (word, pos, sym) table rounds 1–10 used. Each round is pure
relational algebra, mirrored exactly by the DuckDB oracle's unrolled CTEs
(queries/retrieval.py):

1. pair counts: adjacent symbol pairs read straight off the array
   (``zip_with`` of the array with its own 1-shift), exploded into a
   weighted hash aggregate — no per-word window, and the shuffle carries
   (pair, count) rows, never the word strings;
2. best pair: global argmax with a total-order tiebreak
   (count desc, left, right) — ``orderBy().limit(1)`` plans
   TakeOrderedAndProject and the 1-row result broadcasts;
3. greedy leftmost non-overlapping merge: an IN-ROW left fold
   (``aggregate``) over the symbol array — append each symbol unless the
   accumulator's last element is ``l`` and the incoming symbol is ``r``,
   in which case replace the last element with ``l || r``. A freshly
   merged element can never re-match inside the round (``l+r = l`` or
   ``l+r = r`` would need the other side empty), so the fold is exactly
   the sequential leftmost non-overlapping scan — the same semantics the
   old run-grouping window encoding produced, with zero shuffles;
4. only the 1-row argmax is eagerly ``localCheckpoint``-ed per round (it
   both freezes the round's merge decision and feeds the output merge
   table); the symbol-array state stays lazy — its plan grows by one
   broadcast-join + one projection per round, linear and tiny for any
   realistic merge count, and is re-truncated with one final checkpoint.

The driver holds only the loop counter; the learned merge table stays
distributed (1 broadcast row per round).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_reduce_engine_spark.conf import loop_conf

EOW = "</w>"  # end-of-word marker, merged like any other symbol


def word_symbols(words: DataFrame, word_col: str = "word", cnt_col: str = "wcnt") -> DataFrame:
    """(word, wcnt) → (word, wcnt, pos, sym): characters + end-of-word marker.

    The exploded VIEW of the array state — kept as the module's public
    seeding/inspection surface (tests and the bake-off job consume it);
    the training loop itself runs on the array form (:func:`word_symbol_arrays`).
    """
    return word_symbol_arrays(words, word_col, cnt_col).select(
        "word", "wcnt", F.posexplode("syms").alias("pos0", "sym")
    ).select("word", "wcnt", (F.col("pos0") + 1).alias("pos"), "sym")


def word_symbol_arrays(
    words: DataFrame, word_col: str = "word", cnt_col: str = "wcnt"
) -> DataFrame:
    """(word, wcnt) → (word, wcnt, syms): the symbol ARRAY per word type —
    characters + end-of-word marker, one row per word."""
    chars = F.expr(f"transform(sequence(1, length({word_col})), i -> substring({word_col}, i, 1))")
    syms = F.concat(chars, F.array(F.lit(EOW)))
    return words.select(
        F.col(word_col).alias("word"), F.col(cnt_col).alias("wcnt"), syms.alias("syms")
    )


def bpe_train(words: DataFrame, n_merges: int = 6) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (word, wcnt) frequency table.

    Returns the merge table — the trained tokenizer: one row per round with
    (round, lhs, rhs, merged, pair_cnt). Deterministic: the argmax
    tiebreak is (count desc, left asc, right asc), so the same dictionary
    yields the same merges on every engine, run, and partitioning.
    """
    merge_rows, _ = _train_rounds(words, n_merges)
    return reduce(DataFrame.unionByName, merge_rows)


def bpe_train_and_segment(words: DataFrame, n_merges: int = 6) -> tuple[DataFrame, DataFrame]:
    """Both artifacts of ONE training run: (merge table, final symbol
    table). Callers needing the learned merges AND the segmentation (the
    tokenizer bake-off's vocabulary-inventory accounting) use this instead
    of calling :func:`bpe_train` + :func:`bpe_segment` separately, which
    would train the identical model twice."""
    merge_rows, syms = _train_rounds(words, n_merges)
    return reduce(DataFrame.unionByName, merge_rows), syms


def bpe_segment(words: DataFrame, n_merges: int = 6) -> DataFrame:
    """Word-type segmentation after ``n_merges`` learned merges.

    Returns the final (word, wcnt, pos, sym) symbol table — every word
    type's subword sequence. This is the ENCODE side of BPE: because
    tokenization is per word type, encoding a 100 TB corpus means
    segmenting the vocabulary-sized dictionary once and joining the result
    back to the token stream — the corpus itself never re-enters the merge
    loop.
    """
    _, syms = _train_rounds(words, n_merges)
    return syms


# Adjacent symbol pairs straight off the array: zip the array with its own
# 1-shift. Words fully merged to one symbol yield the empty array (and
# explode() then drops them from the pair count, like the old lead()-window
# NULL filter).
_PAIRS = (
    "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), "
    "(a, b) -> named_struct('l', a, 'r', b))"
)

# Greedy leftmost non-overlapping merge as an in-row left fold: append s,
# unless the last accumulated element is l and s is r — then replace the
# last element with l||r. A merged element never re-matches within the
# round: l||r = l or l||r = r would require the other side to be the empty
# string, which no symbol is. CASE rather than bare AND so the empty-
# accumulator probe never evaluates element_at(res, -1) (ANSI-safe).
_MERGE_FOLD = """
aggregate(
  syms,
  CAST(array() AS ARRAY<STRING>),
  (res, s) -> CASE
    WHEN size(res) > 0 AND element_at(res, -1) = l AND s = r
      THEN concat(slice(res, 1, size(res) - 1), array(concat(l, r)))
    ELSE concat(res, array(s))
  END
)
"""


def _train_rounds(words: DataFrame, n_merges: int) -> tuple[list[DataFrame], DataFrame]:
    syms = word_symbol_arrays(words).localCheckpoint(eager=True)
    # The loop state is the VOCABULARY-sized word table. Size the loop to
    # the EXPLODED pair volume the per-round aggregate actually shuffles
    # (Σ symbols per word), not the word-type row count: the array-form
    # state is one row per word TYPE, ~8x fewer rows than the symbol
    # stream. One cheap aggregate over the checkpointed seed.
    n_syms = syms.agg(F.sum(F.size("syms"))).first()[0] or 0
    with loop_conf(words.sparkSession, n_syms):
        merge_rows, syms = _train_rounds_inner(syms, n_merges)
    return merge_rows, syms


_STATE_CHECKPOINT_EVERY = 32


def _train_rounds_inner(syms: DataFrame, n_merges: int) -> tuple[list[DataFrame], DataFrame]:
    merge_rows = []
    for r in range(1, n_merges + 1):
        # Re-truncate the symbol-array state every K rounds: only the 1-row
        # argmax is checkpointed per round, so round r's pair-count job
        # re-executes the (r-1 mod K) prior merge folds — bounded at K, the
        # total fold work stays O(n_merges·K·Σ|word|) instead of quadratic
        # in n_merges (ADVICE r11; realistic BPE runs use thousands of
        # merges). At the pinned bench n_merges=6 this never fires, so the
        # cheap lazy chain between checkpoints is unchanged there.
        if r > 1 and (r - 1) % _STATE_CHECKPOINT_EVERY == 0:
            syms = syms.localCheckpoint(eager=True)
        best = (
            syms.select("wcnt", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("wcnt").alias("pair_cnt"))
            .orderBy(F.desc("pair_cnt"), "l", "r")
            .limit(1)
            .localCheckpoint(eager=True)  # 1 row; freezes the round's argmax
        )
        merge_rows.append(
            best.select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("l").alias("lhs"),
                F.col("r").alias("rhs"),
                F.concat("l", "r").alias("merged"),
                F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            )
        )
        # in-row merge: one broadcast of the 1-row argmax + one projection —
        # no shuffle, no window, and the state plan grows by exactly these
        # two nodes per round (each round's pair aggregate above still reads
        # a short lineage: checkpointed seed + (r-1) narrow projections)
        syms = (
            syms.crossJoin(F.broadcast(best))
            .select("word", "wcnt", F.expr(_MERGE_FOLD).alias("syms"))
        )
    # one final eager checkpoint re-truncates the (linear, tiny) projection
    # chain so downstream consumers (segment/bake-off metrics) start from a
    # materialized table rather than re-running the merge folds per subtree
    final = (
        syms.select("word", "wcnt", F.posexplode("syms").alias("pos0", "sym"))
        .select("word", "wcnt", (F.col("pos0") + 1).alias("pos"), "sym")
        .localCheckpoint(eager=True)
    )
    return merge_rows, final
