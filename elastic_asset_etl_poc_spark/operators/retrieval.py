"""BM25 full-text retrieval: rank documents per query with the Okapi
BM25 function (the exact scoring family the reference's Elasticsearch
backend runs server-side — `lib/es_client.ts` issues `query_string`
searches and ES scores them with BM25; here the scoring itself is a
Spark plan, so it works corpus-side at 100 TB with no search cluster).

idf follows Lucene's non-negative variant:
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

Scale shape:
  * The query set is tiny and literal → its distinct term set is pushed
    INTO the token array filter before the explode, so row blowup is the
    matching-postings count, not the corpus token count.
  * Document length (dl) is computed in the same projection as the
    filtered explode and carried through the tf aggregate — no second
    corpus scan and no doc_id join to attach lengths.
  * N and avgdl are a one-row aggregate, broadcast; per-term df is a
    |terms|-row aggregate, broadcast.  The only wide exchanges are the
    (doc, term) tf hash-agg and the per-query top-k window — the window
    partitions on query_id, and its input is only docs that matched ≥ 1
    term.
  * Ranking orders by the ROUNDED score with a doc_id tiebreak so the
    top-k frontier is reproducible across engines (float summation order
    differs by ~1e-15; the 4-dp grain absorbs it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..checkpoints import release
from .text import tokens


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a literal list of (query_id, query_text); terms are
    whitespace tokens.  Returns (query_id, doc_id, score, rank) with
    ``score`` rounded to 4 dp and ``rank`` dense from 1 by (score desc,
    doc_id asc).
    """
    qterms = [
        (qid, t) for qid, qtext in queries for t in dict.fromkeys(qtext.split())
    ]
    all_terms = sorted({t for _, t in qterms})
    term_arr = F.array(*[F.lit(t) for t in all_terms])

    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"), F.avg(F.size("__t")).alias("__avgdl")
    )
    exploded = base.select(
        "doc_id",
        F.size("__t").alias("dl"),
        F.explode(
            F.filter(F.col("__t"), lambda t: F.array_contains(term_arr, t))
        ).alias("term"),
    )
    # tf feeds BOTH the document-frequency agg and the scoring probe —
    # materialize it once (it is query-term-bounded: |docs hit| × |terms|)
    # or the tokenize+filter+explode subtree above runs once per consumer
    tf = exploded.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))

    qdf = F.broadcast(
        df.sparkSession.createDataFrame(qterms, "query_id int, term string")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf")
        * (1.0 + k1)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(qdf, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversity rerank (Carbonell &
    Goldstein 1998): greedily pick k results maximizing
    ``lam·rel − (1−lam)·max_sim_to_already_selected`` — the
    relevance/redundancy trade every retrieval surface needs once the
    top of the ranking is five near-copies of the same document.

    ``candidates``: (query_id, doc_id, rel) — the caller's bounded
    top-N per query (the contract that keeps this cheap).  ``sims``:
    (doc_a, doc_b, sim) pairwise candidate similarities in either or
    both orientations (symmetrized and max-deduped here; missing pairs
    count as similarity 0).  Returns (query_id, doc_id, rank,
    mmr_score) with rank 1..k per query (fewer if candidates run out).

    The greedy recurrence is inherently sequential in k, so it unrolls
    as k−1 fixed DataFrame stages (anti-join the chosen set, max-sim
    against it, window argmax with doc_id tiebreak) — k is a small
    constant, each stage touches only the candidate frame: O(queries ×
    N × k) work after the caller's corpus-scale candidate build, no
    driver loop over data, no collect.  ``sel`` is localCheckpointed
    after every step: step j consumes the running selection TWICE
    (anti-join + max-sim join), so a lazy ``sel`` doubles its own
    subtree per step — 2^k plan growth that showed up as a ~15s cold
    analysis/codegen spike at k=5 before truncation (r10 bench
    triage); the checkpoint pins each step to a tiny materialized
    (queries × step) frame and keeps plan size linear in k; each step's
    checkpoint is released once the next one exists.  Scores
    stay raw floats of int-ratio inputs, so an oracle replaying the
    same arithmetic picks bit-identical argmaxes.
    """
    cand = candidates.select("query_id", "doc_id", "rel")
    s_sym = (
        sims.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"), "sim")
        .unionByName(
            sims.select(
                F.col("doc_b").alias("a"), F.col("doc_a").alias("b"), "sim"
            )
        )
        .groupBy("a", "b")
        .agg(F.max("sim").alias("sim"))
        .select(F.col("a").alias("sa"), F.col("b").alias("sb"), "sim")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "doc_id")
    sel = (
        cand.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "doc_id",
            F.lit(1).cast("int").alias("rank"),
            (F.lit(lam) * F.col("rel")).alias("mmr_score"),
        )
        .localCheckpoint()
    )
    for step in range(2, k + 1):
        chosen = sel.select("query_id", F.col("doc_id").alias("b"))
        rem = cand.join(
            chosen.select("query_id", F.col("b").alias("doc_id")),
            ["query_id", "doc_id"],
            "left_anti",
        )
        scored = (
            rem.join(chosen, "query_id")
            .join(
                s_sym,
                (F.col("doc_id") == F.col("sa"))
                & (F.col("b") == F.col("sb")),
                "left",
            )
            .groupBy("query_id", "doc_id", "rel")
            .agg(F.coalesce(F.max("sim"), F.lit(0.0)).alias("ms"))
        )
        score = F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("ms")
        wk = Window.partitionBy("query_id").orderBy(score.desc(), "doc_id")
        pick = (
            scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "doc_id",
                F.lit(step).cast("int").alias("rank"),
                score.alias("mmr_score"),
            )
        )
        nxt = sel.unionByName(pick).localCheckpoint()
        release(sel)
        sel = nxt
    return sel
