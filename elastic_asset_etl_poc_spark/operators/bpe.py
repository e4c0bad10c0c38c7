"""Distributed BPE (byte-pair-encoding) vocabulary training and
tokenization.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016): learn the ``n_merges`` highest-count adjacent symbol pairs from a
corpus, then segment text with the learned merge table.

Scale shape — the classic two-level formulation:

* The corpus is collapsed ONCE to a word-frequency table (one shuffle
  over the tokenized corpus).  Zipf makes this table tiny relative to
  corpus bytes (distinct words, not occurrences), so every training
  iteration after that touches only the word table — at 100 TB the
  corpus is read exactly once.
* Each merge round is: adjacent-pair expansion over the word table →
  one partial-agg sum → ``TakeOrdered(1)`` for the argmax pair → a
  broadcast 1-row cross join applying the merge via ``regexp_replace``.
  No driver-side data movement besides an empty-check on the 1-row
  winner frame; lineage is kept flat with cadence ``localCheckpoint``
  (same idiom as :func:`..graph.pagerank`).

Symbol representation: words are space-joined symbol strings
(``"h e l l o"``); a merge ``(l, r)`` applies as
``regexp_replace(syms, '\\bl r\\b', lr)``.  ``\\b`` is zero-width in
both Java regex and RE2, so consecutive occurrences sharing a
separator space all merge in one left-to-right non-overlapping pass —
exactly the greedy semantics of the reference BPE implementation
(verified: ``"a a a"`` + merge ``(a,a)`` → ``"aa a"``).  Symbols stay
``[a-z0-9]+`` by construction (tokenization regex), so patterns never
need regex escaping.

Reference parity note: the reference engine (782 LoC TS) has no
tokenizer; this is a first-class training-data-pipeline extension
(SURVEY.md "beyond the reference" charter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoints import release

__all__ = ["word_symbol_counts", "bpe_train", "bpe_segment"]

#: tokens are lowercased alphanumeric runs — keeps symbols regex-safe
WORD_RE = "[a-z0-9]+"


def word_symbol_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → word-frequency table ``(syms, cnt)`` with each word
    pre-split into space-joined character symbols.

    ONE shuffle over the tokenized corpus; output is distinct-word
    sized (Zipf-tiny), which is what makes iterative training feasible
    at corpus scale.
    """
    words = df.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
        ).alias("w")
    ).filter(F.col("w") != "")
    # char-split: Spark split('') yields the character array (no
    # trailing empty element in Spark 3+)
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.array_join(F.split("w", ""), " ").alias("syms"), "cnt")
    )


def _adjacent_pairs(words: DataFrame) -> DataFrame:
    """(syms, cnt) → exploded ``(pair, cnt)`` with within-word
    multiplicity (a word contributes one row per adjacent position)."""
    multi = words.filter(F.size(F.split("syms", " ")) >= 2)
    pairs = F.expr(
        "transform(slice(split(syms, ' '), 1, size(split(syms, ' ')) - 1),"
        " (x, i) -> concat(x, ' ', element_at(split(syms, ' '), i + 2)))"
    )
    return multi.select(F.explode(pairs).alias("pair"), "cnt")


def bpe_train(
    words: DataFrame, n_merges: int, checkpoint_every: int = 3
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a ``(syms, cnt)`` word table.

    Returns the merge table ``(merge_rank, lhs, rhs, merged,
    pair_count)`` in learned order.  Ties on pair count break by pair
    string ascending — deterministic, so a SQL oracle can replay the
    identical recurrence (see ``suite.bpe_train_docs``'s unrolled-CTE
    twin).

    The per-round argmax is ``orderBy(...).limit(1)`` — a TakeOrdered,
    never a full sort — checkpointed eagerly so (a) the winner feeds
    both the merge-application cross join and the output merge table
    without recompute, and (b) the only driver action is a 1-row
    ``head`` emptiness check (corpus exhausted → stop early).  The
    winners stay persisted (the returned table reads them); each word
    table checkpoint is released once the next one exists, the last
    one on return.
    """
    w = w_cp = words.localCheckpoint(eager=True)
    merge_rows: list[DataFrame] = []
    for i in range(n_merges):
        best = (
            _adjacent_pairs(w)
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .localCheckpoint(eager=True)
        )
        if not best.head(1):  # fewer distinct pairs than requested merges
            release(best)
            break
        b = F.broadcast(
            best.select(
                F.split("pair", " ").getItem(0).alias("__l"),
                F.split("pair", " ").getItem(1).alias("__r"),
                F.col("c").alias("__c"),
            )
        )
        merge_rows.append(
            b.select(
                F.lit(i + 1).alias("merge_rank"),
                F.col("__l").alias("lhs"),
                F.col("__r").alias("rhs"),
                F.concat("__l", "__r").alias("merged"),
                F.col("__c").alias("pair_count"),
            )
        )
        w = w.crossJoin(b).select(
            F.regexp_replace(
                F.col("syms"),
                F.concat(
                    F.lit(r"\b"), F.col("__l"), F.lit(" "), F.col("__r"), F.lit(r"\b")
                ),
                F.concat("__l", "__r"),
            ).alias("syms"),
            "cnt",
        )
        if i % checkpoint_every == checkpoint_every - 1 or i == n_merges - 1:
            w = w.localCheckpoint(eager=True)
            release(w_cp)
            w_cp = w
    release(w_cp)
    if not merge_rows:
        return words.sparkSession.createDataFrame(
            [],
            "merge_rank int, lhs string, rhs string, merged string,"
            " pair_count bigint",
        )
    out = merge_rows[0]
    for r in merge_rows[1:]:
        out = out.unionByName(r)
    return out


def bpe_segment(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge table to text: adds ``out_col`` with the
    per-document BPE token count and ``{out_col}_sample`` with the
    segmentation of the first word (symbols ``|``-joined) as an
    inspectable witness.

    The merge table is collected to the driver (bounded: ``n_merges``
    rows — a vocab, not data) and baked into a chained
    ``regexp_replace`` column, so segmentation itself is a map-only
    pass with no joins.
    """
    ordered = sorted(
        merges.select("merge_rank", "lhs", "rhs").collect(),
        key=lambda r: r["merge_rank"],
    )
    words = F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
    syms = F.array_join(
        F.transform(words, lambda w: F.array_join(F.split(w, ""), " ")),
        "  ",  # double-space word separator: merges never cross words
    )
    for r in ordered:
        syms = F.regexp_replace(
            syms,
            F.lit(rf"\b{r['lhs']} {r['rhs']}\b"),
            F.lit(f"{r['lhs']}{r['rhs']}"),
        )
    out = df.withColumn("__syms", syms)
    out = out.withColumn(
        out_col,
        F.when(F.col("__syms") == "", F.lit(0)).otherwise(
            F.size(F.split("__syms", " +"))
        ),
    )
    out = out.withColumn(
        f"{out_col}_sample",
        F.regexp_replace(
            F.split_part(F.col("__syms"), F.lit("  "), F.lit(1)),
            F.lit(" "),
            F.lit("|"),
        ),
    )
    return out.drop("__syms")
