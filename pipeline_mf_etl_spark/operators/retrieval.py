"""BM25 lexical retrieval — the inverted-index half of the search stack.

The embedding ANN ladder (operators/similarity.py) covers dense
retrieval; this module adds the sparse/lexical leg: an inverted index
(term -> postings) built in one shuffle and Okapi BM25 scoring as a
posting-list equi-join. Together they are the standard hybrid-retrieval
pair a RAG / decontamination pipeline needs.

Scale shape (the 100-TB story):
- Index build is ONE shuffle: explode tokens -> groupBy(doc_id, term).
  Doc lengths reuse the same exploded frame (separate groupBy on the
  same key prefix); corpus scalars (N, avgdl) are a 1-row aggregate.
- Scoring joins the postings to the query-term set. The query side is
  tiny (a handful of terms) and is BROADCAST, so candidate generation
  is a map-side semi-join — postings for non-query terms are never
  shuffled. Per-(query, doc) summation groups only candidate rows.
- Nothing is ever all-pairs: a doc sharing no term with a query never
  appears downstream of the broadcast join.

Tokenization is the corpus-wide shared tokenizer
(operators/dedupe.py:tokens) so index terms, dedup shingles, and the
text-quality family agree on what a "word" is; the DuckDB oracle twin
is queries/text.py:_TOKS.

No reference counterpart: the reference has no search surface at all
(SURVEY.md §2.13 — engine addition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.dedupe import tokens

BM25_K1 = 1.2
BM25_B = 0.75

# The most recent QUERY-TERM postings persist handed to a LAZY caller
# (r1 / r2) — those callers return an unexecuted plan, so they can
# never unpersist it themselves. Each new invocation evicts the
# previous entry (same one-slot discipline as operators/dedupe's
# shingle cache). The cache is PER-INVOCATION: every call to bm25_topk
# rebuilds the frame from its inputs; the persist only dedupes the
# pruned-postings subtree WITHIN one invocation's plan (it feeds the
# candidate branch and the document-frequency branch). r15: the
# pinned frame is the QUERY-TERM postings only — bounded by the docs
# that contain a query term, never the full corpus postings the r14
# version pinned.
_LAZY_POSTINGS_CACHE: list[DataFrame] = []


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k docs per query.

    ``queries`` is a (query_id, qtext) frame; query terms are DISTINCT
    per query (standard bag-of-words BM25 with unit query weights).
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (the Robertson-Sparck
    Jones form with the +1 floor, always positive).

    Scores are rounded to 6 dp BEFORE ranking with an id tie-break, so
    the ordering is reproducible across engines and accumulation
    orders (same convention as the ANN family).

    Plan shape (r15 rewrite — guide §2.3/§2.4 taken to completion):
    NOTHING corpus-sized ever crosses an exchange or pins memory.

    - Doc length is a per-row function of the token array
      (dl = size(toks) ≡ Σ tf over the doc's terms), so it RIDES the
      explode as a column instead of being re-aggregated from a
      corpus-wide (doc, term) groupBy — the r14 plan's only
      corpus-sized shuffle (plus its full-postings persist) drops out.
    - The broadcast query-term semi-join prunes the exploded token
      stream MAP-SIDE, before the one (tiny) aggregation that builds
      the pruned postings. tf per (doc, term) is identical: pruning
      drops terms, not occurrences.
    - Corpus scalars (n_docs, avgdl) come from ONE map-side aggregate
      over the token-array projection (avgdl = Σ size(toks) / n_docs —
      the same integer total Σ dl the r14 plan summed) — one broadcast
      build instead of two chained ones.

    Cost: the corpus is tokenized twice (scalar pass + postings pass),
    both pure map passes — at 100 TB two scans beat one scan plus a
    full-postings shuffle AND a full-postings cache pin. The persisted
    frame is the PRUNED postings (bounded by query-term hits), shared
    by the candidate and document-frequency branches."""
    while _LAZY_POSTINGS_CACHE:
        _LAZY_POSTINGS_CACHE.pop().unpersist()
    tokd = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))

    # corpus scalars in ONE map-side aggregation (pass 1):
    # Σ size(toks) ≡ Σ dl (docs with no tokens contribute 0 on both
    # sides — size(NULL array) is NULL and coalesces to 0); the
    # division matches the r14 form bit-for-bit (long total / double
    # n_docs).
    stats = tokd.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.coalesce(F.size("_toks"), F.lit(0))).alias("_total_tokens"),
    ).select(
        "n_docs", (F.col("_total_tokens") / F.col("n_docs")).alias("avgdl")
    )

    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokens(F.col("qtext")))).alias("term"),
    )
    qdistinct = qterms.select("term").distinct()

    # pass 2: explode with dl riding along, prune map-side, aggregate
    # the surviving (query-term) rows only. max("dl") is the constant
    # per-doc length (deterministic pick of identical values).
    tok = tokd.select(
        F.col(id_col),
        F.coalesce(F.size("_toks"), F.lit(0)).alias("dl"),
        F.explode("_toks").alias("term"),
    )
    tfq = (
        tok.join(F.broadcast(qdistinct), "term")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        .persist()
    )
    _LAZY_POSTINGS_CACHE.append(tfq)

    # df per query term from the pruned postings — identical to the
    # full-corpus df for those terms (tfq has one row per (doc, term),
    # so count(*) per term ≡ COUNT(DISTINCT doc_id))
    dfreq = tfq.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    cand = (
        tfq.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        cand.join(F.broadcast(dfreq), "term")
        .withColumn("contrib", idf * tf_part)
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


RRF_C = 60


def rrf_fuse(sparse: DataFrame, dense: DataFrame, k: int = 10, c: int = RRF_C) -> DataFrame:
    """Reciprocal-rank fusion of two ranked result lists (the standard
    hybrid-retrieval combiner: rrf(d) = Σ 1/(c + rank_m(d)) over the
    modalities that returned d).

    Inputs are (query_id, doc_id, rank) frames — one per modality; a doc
    missing from a modality simply contributes nothing (full outer
    join + coalesce-to-zero). Fusion operates on RANKS, not scores, so
    no cross-modality score calibration is needed — and because ranks
    are small exact ints, the fused score is reproducible across
    engines by construction. Both inputs are already top-k'd per query
    (bounded), so the fusion join is trivially small per query."""
    sp = sparse.select("query_id", "doc_id", F.col("rank").alias("rank_sparse"))
    de = dense.select("query_id", "doc_id", F.col("rank").alias("rank_dense"))
    fused = sp.join(de, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (c + F.col("rank_sparse")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (c + F.col("rank_dense")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        "rank_sparse",
        "rank_dense",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rrf",
            "rank_sparse",
            "rank_dense",
            F.col("rank").cast("int").alias("rank"),
        )
    )
