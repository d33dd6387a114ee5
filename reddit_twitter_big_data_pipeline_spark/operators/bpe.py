"""Distributed BPE (byte-pair encoding) vocabulary training + tokenization —
the tokenizer-construction step of an LLM training-data pipeline, run
against the corpus itself (Sennrich et al. 2016; the reference has no
tokenizer training — SURVEY §2.4 extension).

Scale shape:
- The corpus is touched ONCE: ``word_counts`` reduces 100 TB of text to a
  (word, count) table — the only corpus-sized shuffle, keyed on the word
  with map-side combine. Everything after operates on the vocabulary
  table, which is orders of magnitude smaller than the corpus.
- Each training round is two small jobs over the vocab frame: an adjacent-
  pair count (explode → sum, shuffling (symbol, symbol, long) triples) and
  a driver-side bounded collect of the leading pairs. Rounds are BATCHED
  (fastBPE-style): the top `batch_merges` pairwise-symbol-DISJOINT pairs
  apply per round, so a 30k-merge vocabulary costs ~30k/m driver rounds,
  not 30k. Disjointness keeps every applied pair's pre-round count exact
  (merging (x1,y1) can neither create nor destroy an (x2,y2) adjacency
  when the symbol sets — including the merged symbol x1y1 — are disjoint),
  so min_count still gates true counts; what batching trades away is only
  classic BPE's exact merge ORDER for m>1 (m=1 reproduces it verbatim —
  property-tested). The merge application is a pure Column array fold.
- Rounds follow the iterative-loop discipline of ``comment_depth`` minus
  the per-round count(): each round's single collect materializes the
  previous round's cache, and the eager lineage truncation every 4th
  round bounds plan growth.
- The trained model is a KB-scale ordered merge list (the same "model =
  broadcast literal" stance as the IVF codebook); tokenization broadcasts
  it and runs rank-priority merging per word inside an Arrow-batched UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from . import text as text_ops
from ..checkpointing import truncate_lineage as _truncate

END = "</w>"


def word_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """(word, cnt) over normalized whitespace tokens — the one corpus-sized
    reduction; all BPE rounds run against this table. Delegates to
    ``text.corpus_word_counts`` so the normalization contract is shared
    with the unigram-LM and importance-weighting reductions."""
    return text_ops.corpus_word_counts(df, col)


def _symbols(word: Column) -> Column:
    """Initial segmentation: characters + end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def _apply_merge(sym: Column, x: str, y: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (x, y) → xy,
    as a single array fold: append each symbol, except when the previous
    emitted symbol is x and the current is y — then the pair collapses.
    (F.get, not element_at: ANSI-safe NULL on the empty accumulator.)
    Equivalent to the classic scan because a collapse rewrites the tail to
    x+y, which can only re-trigger if x+y itself equals x — impossible
    with a non-empty y."""
    merged = x + y

    def step(acc: Column, t: Column) -> Column:
        hit = (F.get(acc, F.size(acc) - 1) == F.lit(x)) & (t == F.lit(y))
        return (
            F.when(
                F.coalesce(hit, F.lit(False)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(t)))
        )

    return F.aggregate(sym, F.slice(sym, 1, 0), step)


def _apply_merges(sym: Column, pairs: list[tuple[str, str]]) -> Column:
    """Apply a batch of pairwise-symbol-DISJOINT merges in ONE array fold.

    Equivalent to chaining ``_apply_merge`` once per pair (property-tested
    in tests/test_properties.py): because the batch is disjoint — no
    component or merged symbol shared between pairs — a collapse by one
    pair can neither create nor destroy an adjacency matched by another,
    so a single left-to-right scan that collapses on *any* pair's (x, y)
    reproduces the sequential result. One pass and one lambda expression
    instead of len(pairs) nested folds keeps Catalyst analysis time flat
    in the batch size (the r10 bench's 2 s/round driver cost was optimizer
    time on the nested-fold tree, not execution)."""
    if not pairs:
        return sym
    if len(pairs) == 1:
        return _apply_merge(sym, *pairs[0])

    def step(acc: Column, t: Column) -> Column:
        last = F.get(acc, F.size(acc) - 1)
        hit = F.lit(False)
        for x, y in pairs:
            hit = hit | ((last == F.lit(x)) & (t == F.lit(y)))
        return (
            F.when(
                F.coalesce(hit, F.lit(False)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(last, t)),
                ),
            ).otherwise(F.concat(acc, F.array(t)))
        )

    return F.aggregate(sym, F.slice(sym, 1, 0), step)


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts (x, y, total) over a (s: array<string>,
    cnt: long) symbol-vocabulary frame — the per-round reduction of
    ``bpe_train``, exposed so merge selection is oracle-checkable
    (an unrolled round is plain SQL over adjacent positions)."""
    return (
        vocab.select(
            F.explode(
                F.zip_with(
                    F.slice("s", 1, F.size("s") - 1),
                    F.slice("s", 2, F.size("s") - 1),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.x", "p.y")
        .agg(F.sum("cnt").alias("total"))
    )


def bpe_train(
    df: DataFrame,
    col: str = "text",
    n_merges: int = 50,
    min_count: int = 2,
    batch_merges: int = 8,
) -> list[tuple[str, str]]:
    """Learn up to `n_merges` BPE merges from the corpus; stops early when
    no pair's weighted count reaches `min_count`. Returns the ordered
    merge list (the model).

    `batch_merges` (m) applies up to m merges per driver round
    (fastBPE-style): candidates collect once per round (bounded:
    max(4m, 16) rows), then a greedy scan in (count desc, x, y) order
    takes pairs whose symbol sets — components AND merged symbol — are
    disjoint from every pair already taken this round. Disjoint pairs
    can't perturb each other's adjacency counts, so each applied merge's
    count is its true pre-application count and the `min_count` floor is
    exact; m=1 degenerates to classic single-merge BPE (identical merge
    list, property-tested). For m>1 the merge ORDER may differ from
    classic BPE (a merged symbol's follow-on pairs only compete from the
    next round), but rank-priority tokenization still reproduces the
    training segmentation for every trained word — ranks and application
    order coincide by construction."""
    if batch_merges < 1:
        raise ValueError("bpe_train: batch_merges must be >= 1")
    vocab = (
        word_counts(df, col)
        .select(_symbols(F.col("word")).alias("s"), "cnt")
        .cache()
    )
    # Rolling-release window (the x_hits/pagerank discipline,
    # operators/model.py): once a round's collect has materialized the tip
    # cache, every older cache is dead weight — release it immediately so
    # peak cached state is ~2 vocab frames, not one per round.
    live: list[DataFrame] = [vocab]
    merges: list[tuple[str, str]] = []
    r = 0
    while len(merges) < n_merges:
        m = min(batch_merges, n_merges - len(merges))
        pairs = pair_counts(vocab)
        cand = (
            pairs.filter(F.col("total") >= min_count)
            .orderBy(F.desc("total"), "x", "y")
            .limit(max(4 * m, 16))
            .collect()
        )
        # the collect materialized the tip (current vocab) — release the rest
        while len(live) > 1:
            live.pop(0).unpersist()
        if not cand:
            break
        taken: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in cand:
            x, y = row["x"], row["y"]
            if x in used or y in used or (x + y) in used:
                continue
            taken.append((x, y))
            used.update((x, y, x + y))
            if len(taken) >= m:
                break
        merges.extend(taken)
        # all taken pairs are symbol-disjoint → ONE fold pass applies the
        # whole batch (see _apply_merges; this is what keeps driver-side
        # Catalyst time flat in batch_merges)
        nxt = vocab.select(
            _apply_merges(F.col("s"), taken).alias("s"), "cnt"
        ).cache()
        # register the CACHED frame before any truncate rebinds nxt —
        # appending afterwards would leak the pre-checkpoint cache blocks
        live.append(nxt)
        r += 1
        if r % 4 == 0:
            # eager truncation materializes this round and cuts lineage, so
            # the pre-checkpoint cache (and everything older) releases now;
            # otherwise the next round's collect fills the cache — no
            # separate count() job
            nxt = _truncate(nxt)
            while live:
                live.pop(0).unpersist()
        vocab = nxt
    for c in live:
        c.unpersist()
    return merges


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a trained merge list: per word, repeatedly apply the
    LOWEST-RANK applicable merge (the standard BPE inference rule — for
    words seen in training this reproduces the training segmentation
    exactly). The merge table broadcasts; the loop runs in an
    Arrow-batched UDF (per-row sequential merging is inherently
    imperative — this is the legitimate Python seam, one batch at a
    time). Output: (id, bpe_tokens array<string>, n_bpe)."""
    sc = df.sparkSession.sparkContext
    b = sc.broadcast(
        (list(merges), {pair: i for i, pair in enumerate(merges)})
    )

    @F.pandas_udf("array<string>")
    def tok(texts: pd.Series) -> pd.Series:
        mlist, ranks = b.value
        out = []
        # ASCII-only whitespace semantics, matching the Spark side exactly:
        # normalize_text uses Java \s+ (ASCII [ \t\n\x0B\f\r]) and trim()
        # (chars <= U+0020), while Python's \s and str.strip() are
        # Unicode-aware — an NBSP would split into two words here but count
        # as one during training, silently desynchronizing the two.
        _ws = " \t\n\x0b\f\r"                      # Java \s
        _trim = "".join(chr(c) for c in range(0x21))  # Java trim(): <= U+0020
        for t in texts:
            norm = re.sub(rf"[{_ws}]+", " ", (t or "").strip(_trim).lower())
            syms_all: list[str] = []
            for w in norm.split(" "):
                if not w:
                    continue
                syms = list(w) + [END]
                while len(syms) > 1:
                    best_rank = None
                    for i in range(len(syms) - 1):
                        rk = ranks.get((syms[i], syms[i + 1]))
                        if rk is not None and (best_rank is None or rk < best_rank):
                            best_rank = rk
                    if best_rank is None:
                        break
                    x, y = mlist[best_rank]
                    nxt: list[str] = []
                    i = 0
                    while i < len(syms):
                        if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                            nxt.append(x + y)
                            i += 2
                        else:
                            nxt.append(syms[i])
                            i += 1
                    syms = nxt
                syms_all.extend(syms)
            out.append(syms_all)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        tok(F.col(col)).alias("bpe_tokens"),
    ).withColumn("n_bpe", F.size("bpe_tokens"))


from .._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
