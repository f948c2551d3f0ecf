"""Unigram-LM (SentencePiece-style) tokenizer training as relational algebra.

Kudo (ACL'18, "Subword Regularization") trains the OTHER major subword
family beside BPE (operators/bpe.py): a piece vocabulary with
log-probabilities, segmenting each word by its highest-likelihood split
instead of greedy merges. This is the hard-EM (Viterbi-EM) variant, built so
every step is an equi-join / hash aggregate the DuckDB oracle replays
exactly:

1. **Seed LARGE**: candidate pieces are all substrings up to
   ``PIECE_MAX_LEN`` chars, counted over the word-frequency dictionary —
   after ONE corpus-sized aggregate (word counts) everything is
   vocabulary-sized by Heaps' law, the same scale posture that makes BPE
   training feasible at 100 TB. All single characters are kept
   (guaranteeing full coverage) plus the top-``n_seed_multi`` multi-char
   pieces above a weighted count floor (``orderBy().limit`` →
   TakeOrderedAndProject, never a global window). The cap on the seed is
   what makes the prune SCHEDULE static (a fixed round count the unrolled
   DuckDB oracle can replay); the floor keeps hapax noise out of it.
2. **E-step**: per-word-type Viterbi segmentation is a MIN-PLUS shortest
   path 0 → len(word) over piece edges. Each word's DP is INDEPENDENT of
   every other word's, so after one broadcast equi-join prices the edges
   (piece → cost, a hash lookup at any vocabulary size) and one
   vocabulary-sized aggregate collects each word's edge list to an array,
   the whole sequential recursion dp[i] = min over edges (j → i) of
   dp[j] + cost runs IN-ROW as a single ``aggregate`` higher-order
   function — no joins, no shuffles, no per-round lineage to truncate.
   (Rounds 1–10 ran the matrix-power form instead — ceil(log2(len_cap))
   path-doubling self-joins with a window argmin per round; at
   vocabulary-sized state its wall time was pure stage scheduling, ~25
   Spark jobs per training run. The in-row form computes the identical
   argmin in one projection.) Ties break on (cost, path-string) — the
   ``array_min`` struct ordering — so the chosen segmentation is
   identical on any engine, run, and partitioning, and equals the old
   squaring form's by the compositional-tiebreak argument below.
3. **M-step**: piece counts along the best paths (explode the
   space-joined path string — pieces can never contain whitespace, the
   tokenizer split guarantees it — weighted by word count), then
   add-half-smoothed cost re-estimation so unseen pieces survive with a
   high cost instead of vanishing: cost = -ln((2c+1) / (2·total + |V|)).
4. **PRUNE to target (Kudo §3.2)**: after each EM round, every multi-char
   piece is scored by the likelihood LOSS its removal would cause: its
   occurrences re-route through the best segmentation of the piece's OWN
   string that does not use the piece itself — a second, tiny in-row
   min-plus DP over the piece strings (≤ ``PIECE_MAX_LEN`` chars),
   excluding the full-span self edge. loss = em_cnt · (alt_cost − cost),
   an exact BIGINT in micro-nats. The bottom of the loss ranking is
   dropped, keeping max(target, ceil(0.75·n)) pieces per round —
   SentencePiece's default ``shrinking_factor`` of 0.75 — until the
   multi-char vocabulary reaches ``target_multi``; single chars are never
   pruned (coverage). A final EM round re-estimates counts and costs on
   the target-size vocabulary, matching SentencePiece's loop (which always
   exits through an EM step).

Costs are frozen to BIGINT micro-nats (the zipf_law_fit recipe: ln on exact
integer ratios → engine-identical doubles → one round) so path sums, argmins
and tiebreaks are exact-integer decisions in both engines.

Words longer than ``len_cap`` are excluded from training — the standard
SentencePiece practice of capping trainable token length; at corpus scale
such outliers are URLs/DNA-strings that would only bloat the seed set.

Scale shape: the corpus is touched once (the word-count aggregate); the DP
edge list is |vocabulary| × O(len_cap · PIECE_MAX_LEN) rows collected to one
array per word type, the DP itself is in-row (state bounded by
len_cap ≤ 16), and the piece table is a broadcast at any corpus size.

Reference parity anchor: the reference ships no tokenizer trainer (its jobs
are WordCount/WordLength, wordcount-src/WordCount.java:13-35); this extends
the SURVEY Part C tokenizer family (operators/bpe.py) with the unigram-LM
side.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_reduce_engine_spark.conf import loop_conf

PIECE_MAX_LEN = 4
WORD_LEN_CAP = 16  # trainable-token length cap (SentencePiece practice)
N_SEED_MULTI = 70  # large seed, pruned down to TARGET_MULTI (Kudo §3.2)
SEED_COUNT_FLOOR = 2  # weighted-count floor on seed multi-char pieces
TARGET_MULTI = 40  # target multi-char vocabulary size after pruning
N_PRUNE_ROUNDS = 2  # 70 → 53 → 40 under the 0.75 keep schedule
_KEEP_NUM, _KEEP_DEN = 3, 4  # SentencePiece shrinking_factor = 0.75


def keep_count(n_multi: int, target_multi: int) -> int:
    """Multi-char pieces one prune round keeps: max(target, ceil(0.75·n)).

    Integer-exact (no float ceil), so the Spark driver and the DuckDB
    oracle's ``greatest(target, (3·n + 3) // 4)`` can never disagree.
    """
    return max(target_multi, (_KEEP_NUM * n_multi + _KEEP_DEN - 1) // _KEEP_DEN)


def prune_rounds_for(n_seed_multi: int, target_multi: int) -> int:
    """Prune rounds needed to take a (capped) seed of ``n_seed_multi``
    multi-char pieces down to ``target_multi`` under the 0.75 keep
    schedule — exact simulation of :func:`keep_count`, so the schedule is
    a pure function of the two knobs (static for any unrolled oracle, and
    correct for a real 32k-target training run without the caller doing
    logarithm arithmetic). A seed at or below target needs 0 rounds.
    """
    if target_multi <= 0:
        raise ValueError(f"target_multi must be > 0, got {target_multi}")
    n, rounds = n_seed_multi, 0
    while n > target_multi:
        n = keep_count(n, target_multi)
        rounds += 1
    return rounds


def trainable_words(words: DataFrame, word_col: str = "word", cnt_col: str = "wcnt") -> DataFrame:
    """Apply the training length cap (standard SentencePiece practice)."""
    return words.select(
        F.col(word_col).alias("word"), F.col(cnt_col).cast("bigint").alias("wcnt")
    ).where((F.length("word") >= 1) & (F.length("word") <= WORD_LEN_CAP))


@contextmanager
def sized_loop(words: DataFrame) -> Iterator[DataFrame]:
    """Scope a word-level DP pass: apply the training length cap, freeze the
    dictionary (``localCheckpoint`` — EM re-reads it every round), and open
    a :func:`loop_conf` scope sized to the priced edge table (|words| ×
    O(len_cap · PIECE_MAX_LEN) rows ≈ 80·|words|).

    The shared preamble of :func:`unigram_train`, :func:`unigram_segment`,
    and the registry's n-best enumeration. The ``count()`` is a
    dictionary-sized driver action (the sanctioned bounded-sizing
    pattern)."""
    w = trainable_words(words).localCheckpoint(eager=True)
    with loop_conf(w.sparkSession, w.count() * 80):
        yield w


def piece_edges(words: DataFrame) -> DataFrame:
    """(word, wcnt) → (word, wcnt, j, i, piece): every ≤PIECE_MAX_LEN-char
    substring as a DP edge j → i (0-based cut positions, substr 1-based).

    Pure in-row array math inside one codegen projection — no join, no
    shuffle; the explode fan-out is O(len · PIECE_MAX_LEN) per word type.
    """
    pairs = F.expr(
        "flatten(transform(sequence(0, length(word) - 1), "
        f"j -> transform(sequence(j + 1, least(j + {PIECE_MAX_LEN}, length(word))), "
        "i -> named_struct('j', j, 'i', i))))"
    )
    return (
        words.select("word", "wcnt", F.explode(pairs).alias("e"))
        .select("word", "wcnt", F.col("e.j").alias("j"), F.col("e.i").alias("i"))
        .withColumn("piece", F.expr("substring(word, j + 1, i - j)"))
    )


def seed_vocab(
    words: DataFrame, n_multi: int = N_SEED_MULTI, count_floor: int = SEED_COUNT_FLOOR
) -> DataFrame:
    """Seed piece counts: ALL single chars (coverage guarantee) + the
    top-``n_multi`` multi-char substrings at weighted count >=
    ``count_floor``.

    The top-k is ``orderBy().limit()`` — TakeOrderedAndProject with the
    (count desc, piece asc) deterministic tiebreak, never a global window
    over the piece grid. The cap makes the prune schedule STATIC (the
    unrolled oracle needs a fixed round count); the floor keeps hapax
    substrings from wasting seed slots.
    """
    cnts = piece_edges(words).groupBy("piece").agg(F.sum("wcnt").alias("cnt"))
    singles = cnts.where(F.length("piece") == 1)
    multis = (
        cnts.where((F.length("piece") > 1) & (F.col("cnt") >= count_floor))
        .orderBy(F.desc("cnt"), "piece")
        .limit(n_multi)
    )
    return singles.unionByName(multis).select("piece", F.col("cnt").cast("bigint").alias("cnt"))


def smoothed_costs(vocab_cnts: DataFrame) -> DataFrame:
    """(piece, cnt) → (piece, cnt, cost): add-half-smoothed micro-nat costs.

    cost = -round(ln((2c+1) / (2·total + |V|)) · 1e6) — exact-integer
    operands into ln (the zipf_law_fit recipe), so both engines freeze the
    identical BIGINT. The totals row is a 1-row broadcast.
    """
    totals = vocab_cnts.agg(
        F.sum("cnt").cast("bigint").alias("_total"), F.count("*").cast("bigint").alias("_nv")
    )
    return (
        vocab_cnts.crossJoin(F.broadcast(totals))
        .withColumn(
            "cost",
            (
                -F.round(
                    F.log(
                        (2 * F.col("cnt") + 1).cast("double")
                        / (2 * F.col("_total") + F.col("_nv")).cast("double")
                    )
                    * F.lit(1e6)
                )
            ).cast("bigint"),
        )
        .select("piece", "cnt", "cost")
    )


def _word_edges(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, wcnt, _edges): each word type's vocab-priced DP edge list
    collected to ONE array column — the broadcast equi-join prices pieces
    (hash lookup at any vocabulary size), then one vocabulary-sized
    aggregate gathers the ≤ len·PIECE_MAX_LEN edges per word. Words none
    of whose substrings price drop out here, exactly as they dropped out
    of the old squaring form's final inner join (cannot happen while
    single chars are never pruned)."""
    return (
        piece_edges(words)
        .join(F.broadcast(vocab.select("piece", "cost")), "piece")
        .groupBy("word", "wcnt")
        .agg(F.collect_list(F.struct("j", "i", "cost", "piece")).alias("_edges"))
    )


# In-row Viterbi: fold positions 1..len; dp[0] = (0, ''). Each step appends
# the (cost, path)-minimum over the priced edges ending at i (array_min's
# struct ordering = the (cost asc, path asc) tiebreak). Unreachable
# positions append NULL (array_min of the empty candidate list) and are
# excluded as predecessors by the IS NOT NULL guard. Edge order inside the
# collected array is partitioning-dependent — array_min is order-invariant,
# so the result is deterministic anyway.
_DP_BEST = """
aggregate(
  sequence(1, length(word)),
  array(named_struct('cost', CAST(0 AS BIGINT), 'path', '')),
  (acc, i) -> concat(acc, array(
    array_min(transform(
      filter(_edges, e -> e.i = i AND element_at(acc, e.j + 1) IS NOT NULL),
      e -> named_struct(
        'cost', element_at(acc, e.j + 1).cost + e.cost,
        'path', if(e.j = 0, e.piece,
                   concat(element_at(acc, e.j + 1).path, ' ', e.piece)))))))
)
"""


def viterbi_paths(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Best (min-cost) segmentation per word type under ``vocab`` costs.
    Returns (word, wcnt, cost, path).

    One broadcast join + one aggregate + one in-row min-plus fold
    (``_DP_BEST``) — the per-word DP is embarrassingly row-local, so no
    squaring self-joins, no windows, no per-round checkpoints. Equality
    with the old path-doubling form follows from the compositional
    tiebreak: equal-cost same-span paths are never prefixes of each other
    (same chars, spaces differ), so the per-prefix (cost, path) argmin
    extends to the global one — both forms compute the identical
    lexicographic argmin over all segmentations. The struct is extracted
    through ``inline`` (a generator) so the fold evaluates ONCE per row —
    a plain aliased projection would re-inline the whole DP into every
    field reference (projection-collapse, the known O(dim²) trap).
    """
    best = F.element_at(F.expr(_DP_BEST), F.length("word") + 1)
    return (
        _word_edges(words, vocab)
        .select("word", "wcnt", F.inline(F.array(best)))
        .where(F.col("cost").isNotNull())
        .select("word", "wcnt", "cost", "path")
    )


# In-row k-best Viterbi: dp[i] is the list of the k best DISTINCT
# (cost, path) for the prefix [0, i); each step expands every edge ending
# at i by every predecessor entry (≤ PIECE_MAX_LEN·k candidates), collapses
# duplicate paths (same path via several predecessors — identical BIGINT
# cost by construction), sorts by the struct (cost, path) order and keeps
# k. Unreachable positions hold the empty list (transform over it yields
# no candidates). {k} is interpolated as a literal.
_DP_NBEST = """
aggregate(
  sequence(1, length(word)),
  array(array(named_struct('cost', CAST(0 AS BIGINT), 'path', ''))),
  (acc, i) -> concat(acc, array(
    slice(
      array_sort(array_distinct(
        flatten(transform(
          filter(_edges, e -> e.i = i),
          e -> transform(element_at(acc, e.j + 1),
                         p -> named_struct(
                           'cost', p.cost + e.cost,
                           'path', if(e.j = 0, e.piece,
                                      concat(p.path, ' ', e.piece)))))))),
      1, {k})))
)
"""


def nbest_paths(words: DataFrame, vocab: DataFrame, k: int = 2) -> DataFrame:
    """Top-``k`` distinct segmentations per word type under ``vocab`` —
    the enumeration base of Kudo's SUBWORD REGULARIZATION (ACL'18 §3: the
    paper's titular technique samples among the l-best segmentations at
    training time; Viterbi is just l=1). Returns
    (word, wcnt, rank, cost, path), rank 1..k by (cost, path).

    Same in-row fold as :func:`viterbi_paths` with a k-list accumulator
    (``_DP_NBEST``). Exact by the standard k-shortest-path induction: the
    prefix of a top-k path is top-k for its span under the compositional
    (cost, path) order (same-span paths never prefix each other, so
    concatenation preserves comparisons); duplicates collapse BEFORE the
    rank (``array_distinct``) so equal paths never waste slots. rank-1
    rows equal :func:`viterbi_paths` exactly — pinned by tests. The final
    k-list is unpacked by ``posexplode`` (rank = position + 1), a
    generator, so the fold evaluates once per row.
    """
    lst = F.element_at(F.expr(_DP_NBEST.format(k=int(k))), F.length("word") + 1)
    return (
        _word_edges(words, vocab)
        .select("word", "wcnt", F.posexplode(lst).alias("_pos0", "_seg"))
        .select(
            "word",
            "wcnt",
            (F.col("_pos0") + 1).cast("int").alias("rank"),
            F.col("_seg.cost").alias("cost"),
            F.col("_seg.path").alias("path"),
        )
    )


SAMPLE_ALPHA = 0.5  # inverse temperature on the n-best distribution


def sampled_segmentations(nbest: DataFrame, salt: int = 0) -> DataFrame:
    """(word, wcnt, p1_micro, draw_micro, sampled_rank, cost, path) — ONE
    deterministic sample per word type from its 2-best segmentation list:
    the subword-regularization draw (Kudo ACL'18 §3 samples x with
    P(x) ∝ p(x)^α at training time) made reproducible and
    oracle-replayable.

    - P(rank 1) is the two-candidate softmax on micro-nat costs,
      1 / (1 + exp(-α·(c2 − c1)/1e6)) with α = ``SAMPLE_ALPHA``, frozen
      to micro-units by one fixed-order expression (identical text on
      both engines — the temperature_mixture_weights discipline);
    - the uniform draw is the portable md5-prefix hash of the WORD
      (prefixed ``"{salt}:"`` when ``salt`` != 0), scaled to micro-units
      by integer division — engine-identical, so the "random" choice is a
      pure function of (salt, word); a training epoch passes its epoch
      number as ``salt`` to resample, and the default 0 hashes the bare
      word (the registry oracle's pinned behavior);
    - rank 2 is chosen iff a rank-2 exists and draw_micro >= p1_micro.

    Portability hazard (adjudicated): ``p1_micro`` is the repo's one
    transcendental that feeds a hard BRANCH (the rank choice) rather than
    a reported value — a 1-ulp ``exp()`` divergence between JVM StrictMath
    and libm flips ``sampled_rank`` for a word whose sigmoid lands exactly
    on a .5 micro-unit rounding boundary AND whose draw falls in that one
    micro-unit. Both engines evaluate the identical expression text on
    identical (c2−c1) BIGINTs, libm/StrictMath agree far beyond the 1e-6
    scale for |x| ≤ ~60 sigmoid inputs, and the fuzz + registry history
    has never produced a flip; accepted under the fixed-expression
    discipline rather than rebuilt on integer-only math (an exact integer
    sigmoid does not exist, and a rational approximation would change the
    distribution the operator documents).

    Input is :func:`nbest_paths` output; the pivot is one hash aggregate
    (conditional MINs per rank — at most one row per (word, rank), so MIN
    is exact selection), no join. Words with a single segmentation keep
    it with p1_micro = 1e6.
    """
    from map_reduce_engine_spark.operators.dedup import portable_base31

    draw_key = (
        F.col("word")
        if salt == 0
        else F.concat(F.lit(f"{int(salt)}:"), F.col("word"))
    )
    agg = nbest.groupBy("word", "wcnt").agg(
        F.min(F.when(F.col("rank") == 1, F.col("cost"))).alias("c1"),
        F.min(F.when(F.col("rank") == 1, F.col("path"))).alias("path1"),
        F.min(F.when(F.col("rank") == 2, F.col("cost"))).alias("c2"),
        F.min(F.when(F.col("rank") == 2, F.col("path"))).alias("path2"),
    )
    out = (
        agg.withColumn("_h", portable_base31(draw_key))
        .withColumn(
            "p1_micro",
            F.when(F.col("c2").isNull(), F.lit(1_000_000).cast("bigint")).otherwise(
                F.expr(
                    f"CAST(round(1000000 / (1 + exp(-{SAMPLE_ALPHA} * (c2 - c1)"
                    " / 1000000.0))) AS BIGINT)"
                )
            ),
        )
        .withColumn("draw_micro", F.expr("(1000000 * _h) div 2147483648").cast("bigint"))
        .withColumn(
            "sampled_rank",
            F.when(
                F.col("c2").isNotNull() & (F.col("draw_micro") >= F.col("p1_micro")),
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .cast("bigint"),
        )
    )
    return out.select(
        "word",
        "wcnt",
        "p1_micro",
        "draw_micro",
        "sampled_rank",
        F.when(F.col("sampled_rank") == 2, F.col("c2")).otherwise(F.col("c1")).alias("cost"),
        F.when(F.col("sampled_rank") == 2, F.col("path2"))
        .otherwise(F.col("path1"))
        .alias("path"),
    )


# Cost-only in-row fold with the full-span self edge excluded — the only
# (0, len) edge is the piece's own string, so the positional exclusion is
# exactly "segment p without p".
_DP_ALT_COST = """
aggregate(
  sequence(1, length(word)),
  array(CAST(0 AS BIGINT)),
  (acc, i) -> concat(acc, array(
    array_min(transform(
      filter(_edges, e -> e.i = i AND element_at(acc, e.j + 1) IS NOT NULL
                     AND NOT (e.j = 0 AND e.i = length(word))),
      e -> element_at(acc, e.j + 1) + e.cost))))
)
"""


def piece_alt_costs(vocab: DataFrame) -> DataFrame:
    """(piece, alt_cost): the cheapest segmentation of every MULTI-char
    piece's own string that does NOT use the piece itself as one edge —
    the re-route its removal would force on all its occurrences, the
    quantity Kudo's prune ranks by.

    Same in-row min-plus fold as :func:`viterbi_paths`, over the PIECE
    strings (vocabulary-sized rows, ≤ ``PIECE_MAX_LEN`` chars each) with
    the full-span self edge excluded positionally inside the fold. Only
    the cost matters here (a BIGINT accumulator, no path string). An
    alternative always exists: single chars are never pruned, and every
    char of a piece occurs in some word.
    """
    pieces = vocab.where(F.length("piece") > 1).select(
        F.col("piece").alias("word"), F.lit(0).cast("bigint").alias("wcnt")
    )
    alt = F.element_at(F.expr(_DP_ALT_COST), F.length("word") + 1)
    return (
        _word_edges(pieces, vocab)
        .select(F.col("word").alias("piece"), alt.alias("alt_cost"))
        .where(F.col("alt_cost").isNotNull())
    )


def _reestimate(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """One EM round: Viterbi E-step under ``vocab``, weighted piece recount
    along the best paths, add-half-smoothed cost re-estimation. Pieces the
    E-step never used survive with cnt 0 and a high smoothed cost."""
    best = viterbi_paths(words, vocab)
    counted = (
        best.select("wcnt", F.explode(F.split("path", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcnt").cast("bigint").alias("cnt"))
    )
    return smoothed_costs(
        vocab.select("piece")
        .join(counted, "piece", "left")
        .select("piece", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"))
    ).localCheckpoint(eager=True)


def unigram_train(
    words: DataFrame,
    n_seed_multi: int = N_SEED_MULTI,
    target_multi: int = TARGET_MULTI,
    n_prune_rounds: int | None = None,
    seed_count_floor: int = SEED_COUNT_FLOOR,
) -> DataFrame:
    """Train the unigram-LM vocabulary with Kudo's (ACL'18 §3.2)
    prune-to-target schedule: seed large, then ``n_prune_rounds`` of
    [EM re-estimate → rank multi-char pieces by removal likelihood-loss →
    keep max(target, ceil(0.75·n))], then one final EM round on the
    target-size vocabulary.

    Input is the (word, wcnt) frequency dictionary (ONE corpus aggregate
    upstream). Returns the trained piece table (piece, cnt, cost) — cnt is
    the final E-step's weighted piece count under the final vocabulary,
    cost its smoothed micro-nat negative log-probability. Deterministic
    end to end: the loss ranking ties break on the piece string, the keep
    count is integer-exact, and the round count — computed from the two
    knobs by :func:`prune_rounds_for` when not given explicitly —
    guarantees the target is reached (70 → 53 → 40 in 2 rounds at the
    defaults; a 50k-seed / 32k-target production run gets its schedule
    the same way). The mid-loop ``losses.count()`` is a vocabulary-sized
    driver action — the same bounded-sizing pattern as the
    partition-count probe below.
    """
    if n_prune_rounds is None:
        n_prune_rounds = prune_rounds_for(n_seed_multi, target_multi)
    # DP state is vocabulary-sized: |words| × O(len_cap²/2) rows (sized_loop)
    with sized_loop(words) as words:
        vocab = smoothed_costs(
            seed_vocab(words, n_seed_multi, seed_count_floor)
        ).localCheckpoint(eager=True)
        for _ in range(n_prune_rounds):
            full = _reestimate(words, vocab)
            losses = (
                full.where(F.length("piece") > 1)
                .join(piece_alt_costs(full), "piece")
                .select(
                    "piece",
                    "cnt",
                    (F.col("cnt") * (F.col("alt_cost") - F.col("cost"))).alias("loss"),
                )
                .localCheckpoint(eager=True)
            )
            k = keep_count(losses.count(), target_multi)
            keep = losses.orderBy(F.desc("loss"), "piece").limit(k).select("piece", "cnt")
            vocab = smoothed_costs(
                full.where(F.length("piece") == 1).select("piece", "cnt").unionByName(keep)
            ).localCheckpoint(eager=True)
        # final EM on the pruned (target-size) vocabulary: SentencePiece's
        # prune loop always exits through an EM step, so em_cnt reflects
        # the FINAL vocabulary's own segmentation
        return _reestimate(words, vocab)


def unigram_segment(words: DataFrame, vocab: DataFrame | None = None, **train_kwargs) -> DataFrame:
    """ENCODE side: best segmentation of every word type under the trained
    vocabulary — one more Viterbi pass with the final costs. Encoding a
    100 TB corpus segments the vocabulary-sized dictionary once and joins
    back to the token stream (the bpe_segment posture).

    Pass a pre-trained ``vocab`` (from :func:`unigram_train`) to reuse one
    trained model across several downstream metrics (fertility,
    codelength, the bake-off job) instead of retraining per call; without
    it the model is trained here with ``train_kwargs``. Passing BOTH is a
    ``ValueError`` — training knobs cannot apply to an already-trained
    model, and silently ignoring them would hide the mistake.
    """
    if vocab is None:
        vocab = unigram_train(words, **train_kwargs)
    elif train_kwargs:
        raise ValueError(
            "unigram_segment got a pre-trained vocab AND training kwargs "
            f"{sorted(train_kwargs)} — the knobs would be silently ignored; "
            "pass one or the other"
        )
    with sized_loop(words) as words:
        return viterbi_paths(words, vocab)
