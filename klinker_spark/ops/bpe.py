"""Distributed BPE tokenizer training and application.

A 100 TB training-data pipeline needs its tokenizer trained ON the
corpus, not shipped in: byte-pair encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") learns
merge rules by repeatedly fusing the most frequent adjacent symbol
pair.  The classical implementation is a single-machine loop over a
word-frequency dictionary — which is exactly the shape that
distributes: the *word vocabulary* (distinct words + counts) is
orders of magnitude smaller than the corpus, pair counting is a
weighted group-by over it, and each merge touches every word type
once.

Spark-first design
------------------
- One corpus pass builds the word vocabulary (``groupBy(word).count``
  with map-side partial aggregation) — the ONLY full-data scan;
  everything after runs on the (persisted) vocab table.
- Each training iteration is: explode adjacent symbol pairs (a pure
  ``transform``/``explode`` expression, no UDF), weighted group-by
  sum, and a **1-row collect** of the arg-max pair (deterministic
  tie-break: count DESC, left ASC, right ASC) — the same bounded
  driver collect contract as the KMeans centroids.
- The merge is applied as a **literal string replace** over a
  delimiter-padded symbol string, so the whole per-iteration rewrite
  stays inside whole-stage codegen.

Symbol-string encoding (the invariant every step preserves)::

    word "low"  →  " l  o  w  _ "

one space at each end, TWO spaces between symbols, ``_`` as the
end-of-word marker (words are ``[a-z0-9]+`` after tokenize, so ``_``
is unambiguous).  Merging pair ``(a, b)`` is then
``replace(syms, " a  b ", " ab ")``: the match consumes one space on
each side, the neighbor keeps its own, so the double-space invariant
survives — and left-to-right non-overlapping ``replace`` semantics
(identical in the JVM and DuckDB) reproduce exactly the greedy
leftmost-first merge order of reference BPE ("aaaa" with merge (a,a)
→ [aa, aa], not [aa, a, a]).

At 100 TB: the vocab table is bounded by distinct word types (tens of
millions, not corpus size); pair explosion is ~word-length rows per
type; the arg-max is a 1-row TakeOrdered.  Applying k merges to the
corpus afterwards is a broadcast join word→subword-count — no second
corpus shuffle.

Reference scope anchor: the reference tokenizes with NLTK only
(``src/klinker/blockers/token_blocking.py:21-39``) — subword training
is part of this repo's beyond-reference LLM-curation family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import checkpoint
from ..functions.text import tokenize

#: symbol separator inside the padded symbol string (two spaces).
SEP = "  "
#: end-of-word marker symbol (words are [a-z0-9]+, so this is unambiguous).
EOW = "_"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass → ``(w, cnt)`` word-type frequency table.

    Tokenization matches the engine-wide ``tokenize`` with
    ``min_token_length=1`` and no stopword removal, occurrences kept.
    """
    toks = tokenize(F.col(text_col), min_token_length=1, stopwords=[], keep_duplicates=True)
    return (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_syms(word_col: str = "w") -> F.Column:
    """``'low'`` → ``' l  o  w  _ '`` (chars + EOW, SEP-joined, padded)."""
    chars = F.expr(
        f"transform(sequence(1, length({word_col})), i -> substring({word_col}, i, 1))"
    )
    arr = F.concat(chars, F.array(F.lit(EOW)))
    return F.concat(F.lit(" "), F.array_join(arr, SEP), F.lit(" "))


def _pair_counts(rep: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the current segmentation."""
    sy = F.split(F.trim(F.col("syms")), SEP)
    # the single-symbol guard tests the RAW string (substring probe):
    # size(split(trim(s))) > 1 ⇔ trim(s) contains SEP, and a size()
    # predicate over the split would be pushed below the projection
    # and re-evaluate the split per row (r12); SEP is two literal
    # spaces, regex-free, so instr is exact
    return (
        rep.where(F.instr(F.trim(F.col("syms")), SEP) > 0)
        .select(F.col("cnt"), sy.alias("sy"))
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sy) - 1),"
                    " j -> struct(element_at(sy, j) as a, element_at(sy, j + 1) as b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )


def bpe_train(
    docs: DataFrame, text_col: str = "text", iters: int = 8
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``iters`` BPE merges; return ``(merges, segmentation)``.

    ``merges`` is a driver-side list of ``(merge_rank, left_sym,
    right_sym, pair_count)`` — ``iters`` rows, the only data that ever
    reaches the driver (1 row collected per iteration).
    ``segmentation`` is the final vocab DataFrame ``(w, cnt, syms)``
    with all merges applied — join it back to the corpus to count
    subword tokens without re-deriving anything.

    Ties on the max pair count break by ``(left ASC, right ASC)`` —
    fully deterministic, which is what makes the unrolled-CTE DuckDB
    oracle (``queries.py``) bit-exact.
    """
    vocab = word_vocab(docs, text_col)
    rep_base = vocab.withColumn("syms", _initial_syms("w")).persist()
    rep_base.count()  # materialize once; iterations rebuild only the replace tower
    rep = rep_base

    merges: list[tuple[int, str, str, int]] = []
    for r in range(iters):
        best = (
            _pair_counts(rep)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((r, a, b, int(c)))
        pat = f" {a}{SEP}{b} "
        repl = f" {a}{b} "
        rep = rep.withColumn("syms", F.replace("syms", F.lit(pat), F.lit(repl)))
    # Materialize the final (vocab-sized) segmentation and release the
    # training cache HERE: consumers hold only a checkpoint-backed frame,
    # so no corpus-derived cache block outlives training.  (Calling
    # .unpersist() on the returned derived frame is a no-op — the cache
    # lives on the pre-loop base.)
    rep = checkpoint(rep)
    rep_base.unpersist()
    return merges, rep


def apply_merges(vocab_syms: DataFrame) -> DataFrame:
    """Final segmentation → per-word subword count ``(w, n_subwords)``."""
    return vocab_syms.select(
        "w", F.size(F.split(F.trim(F.col("syms")), SEP)).alias("n_subwords")
    )


def bpe_token_stats(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    iters: int = 8,
) -> DataFrame:
    """Train ``iters`` merges on the corpus, then report per-group BPE
    token statistics: word count, subword token count, and the
    compression ratio subwords/words.

    The application step is a broadcast join corpus-tokens → per-word
    subword count: one extra corpus pass, zero extra shuffles of the
    corpus itself (the group-by is on ``group_col``).
    """
    _, rep = bpe_train(docs, text_col, iters)
    per_word = apply_merges(rep)
    toks = tokenize(F.col(text_col), min_token_length=1, stopwords=[], keep_duplicates=True)
    occ = docs.select(F.col(group_col).alias("grp"), F.explode(toks).alias("w"))
    return (
        occ.join(F.broadcast(per_word), "w")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subwords").alias("n_bpe_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_words",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias("subwords_per_word"),
        )
    )
