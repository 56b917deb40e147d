"""Hybrid retrieval: reciprocal-rank fusion (RRF) of k-bounded ranked lists.

The two retrieval halves of the engine — the BM25 fulltext index
(``query.SearchIndex``) and the vector indexes (``ann``) — are fused the
way Elasticsearch/Vespa/OpenSearch do it: each arm returns its own top-N
candidates in a deterministic total order, candidates get 1-based ranks,
and a document's fused score is

    rrf(d) = sum over arms a of  1 / (rrf_k + rank_a(d))

(Cormack, Clarke & Buettcher, SIGIR 2009; ``rrf_k`` = 60 by default, the
value every production engine ships). Missing-from-an-arm contributes 0.

Scale shape: fusion itself is O(sum of arm sizes) — the arms are the
scalable parts (bucket-parallel BM25 for text, partition-pruned LSH/IVF probes
for vectors), each already k-bounded before fusion, so the full-outer
join here runs over at most ``n_arms * N`` rows regardless of corpus
size. The rank window is over an already-``limit(N)``-ed list (single
partition by construction, bounded by N — that is the point, not an
accident).

Determinism: ranks are integers from a (quantized score DESC, id ASC)
total order, and ``1/(rrf_k + rank)`` on integer inputs is IEEE-exact, so
the fused scores are bit-reproducible across engines as long as each
arm's quantized order is (the same contract the ft_*/ann_* oracle rows
already prove). The fused sum adds arms in list order — fix the arm
order and the float64 result is deterministic.

Reference provenance: the reference engine ranks fulltext hits only
(``lib/fates.rb:60-70``); hybrid fusion is the standard upgrade once a
vector arm exists, not a reference behavior.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def ranked(df: DataFrame, order_cols: list, id_col: str,
           n: int | None = None) -> DataFrame:
    """Attach 1-based ranks to a candidate list.

    ``order_cols`` define the arm's total order (e.g.
    ``[F.desc("score"), F.asc("doc_id")]``) — they MUST be total (include
    the id tie-break) or ranks are nondeterministic. ``n`` re-limits the
    list; the input is expected to be k-bounded already (top-k output of a
    retriever), so the global window is a bounded single-partition sort
    over <= n rows by construction.
    """
    if n is not None:
        df = df.orderBy(*order_cols).limit(n)
    w = Window.orderBy(*order_cols)
    return df.withColumn("rank", F.row_number().over(w)) \
             .select(F.col(id_col).alias("_id"), "rank")


def rrf_fuse(arms: list[DataFrame], k: int = 10, rrf_k: int = 60,
             id_col: str = "doc_id") -> DataFrame:
    """Fuse ranked arms (outputs of ``ranked``) into a top-k.

    Returns (id_col, rrf_score, rank_0, rank_1, ...) ordered by
    (rrf_score DESC, id ASC), limit k. Arm order fixes the float64
    summation order; absent ranks are null in the output and contribute
    exactly 0.0 to the score.
    """
    if not arms:
        raise ValueError("need at least one ranked arm")
    named = [a.select(F.col("_id"), F.col("rank").alias(f"rank_{i}"))
             for i, a in enumerate(arms)]
    joined = reduce(lambda l, r: l.join(r, on="_id", how="full_outer"), named)
    contribs = [F.coalesce(1.0 / (F.lit(float(rrf_k)) + F.col(f"rank_{i}")),
                           F.lit(0.0))
                for i in range(len(arms))]
    score = reduce(lambda a, b: a + b, contribs)
    return (joined
            .select(F.col("_id").alias(id_col),
                    score.alias("rrf_score"),
                    *[F.col(f"rank_{i}") for i in range(len(arms))])
            .orderBy(F.desc("rrf_score"), F.asc(id_col))
            .limit(k))


def hybrid_rrf(index, emb_df: DataFrame, query, query_vec,
               k: int = 10, n_candidates: int = 50, rrf_k: int = 60,
               mode: str = "OR", use_wand: bool = False,
               vec_id_col: str = "vec_id", vec_col: str = "embedding",
               quantize: int = 4) -> DataFrame:
    """BM25 + exact-cosine hybrid top-k over a shared id space.

    ``index`` is a ``SearchIndex`` whose doc_ids coincide with
    ``emb_df[vec_id_col]``. Arm 1 is the fulltext top-``n_candidates``
    (bucket-parallel BM25); arm 2 is cosine top-``n_candidates`` against
    ``query_vec``. Both arms rank by their ``quantize``-decimal
    floor/round-quantized score with id ASC tie-break, so ranks are
    cross-engine stable (the same contract the ft_*/ann_* driver rows
    check); the fused order is then exactly reproducible in SQL.

    Output: (doc_id, rrf_score, rank_text, rank_vec) — rrf_score sums
    text-arm before vec-arm.
    """
    from .ann import _dot, _norm, _qvec_lit

    text = index.search(query, k=n_candidates, mode=mode, use_wand=use_wand,
                        quantize=quantize)
    text_arm = ranked(text, [F.desc("score"), F.asc("doc_id")], "doc_id")

    qv = _qvec_lit(query_vec)
    v = F.col(vec_col).cast("array<double>")
    cos = F.round(_dot(v, qv) / (_norm(v) * _norm(qv)), quantize)
    vec = (emb_df.select(F.col(vec_id_col), cos.alias("cosine"))
           .orderBy(F.desc("cosine"), F.asc(vec_id_col))
           .limit(n_candidates))
    vec_arm = ranked(vec, [F.desc("cosine"), F.asc(vec_id_col)], vec_id_col)

    fused = rrf_fuse([text_arm, vec_arm], k=k, rrf_k=rrf_k, id_col="doc_id")
    return fused.withColumnRenamed("rank_0", "rank_text") \
                .withColumnRenamed("rank_1", "rank_vec")


def linear_fuse(arms: list[DataFrame], weights: list[float], k: int = 10,
                id_col: str = "doc_id") -> DataFrame:
    """Min-max-normalized weighted-sum fusion — the OpenSearch hybrid
    ``normalization-processor`` (``min_max`` normalization +
    ``arithmetic_mean`` with weights), the other production fusion next
    to RRF.

    Each arm is a k-bounded (_id, s) candidate list with QUANTIZED
    scores (the cross-engine-stable contract); per arm the score
    normalizes to (s - min)/(max - min) over that arm's candidates
    (degenerate max == min arm -> 1.0 for every candidate), absent docs
    contribute 0, and the fused score sums w_i * norm_i in arm order —
    a static expression over identical doubles, so DuckDB hash-matches.

    Scale shape: the min/max are per-arm 2-scalar aggs over k-bounded
    lists; fusion is the same bounded full-outer join as RRF.
    """
    if not arms:
        raise ValueError("need at least one arm")
    if len(weights) != len(arms):
        raise ValueError("one weight per arm")
    named = []
    for i, a in enumerate(arms):
        r = a.agg(F.min("s").alias("lo"), F.max("s").alias("hi")) \
             .collect()[0]
        lo, hi = float(r["lo"]), float(r["hi"])
        norm = (F.lit(1.0) if hi == lo
                else (F.col("s") - F.lit(lo)) / F.lit(hi - lo))
        named.append(a.select("_id", norm.alias(f"norm_{i}")))
    joined = reduce(lambda l, r: l.join(r, on="_id", how="full_outer"),
                    named)
    score = reduce(lambda a, b: a + b,
                   [F.lit(float(w)) * F.coalesce(F.col(f"norm_{i}"),
                                                 F.lit(0.0))
                    for i, w in enumerate(weights)])
    return (joined
            .select(F.col("_id").alias(id_col),
                    score.alias("fused_score"),
                    *[F.col(f"norm_{i}") for i in range(len(arms))])
            .orderBy(F.desc("fused_score"), F.asc(id_col))
            .limit(k))


def hybrid_linear(index, emb_df: DataFrame, query, query_vec,
                  k: int = 10, n_candidates: int = 50,
                  w_text: float = 0.7, w_vec: float = 0.3,
                  mode: str = "OR", use_wand: bool = False,
                  vec_id_col: str = "vec_id", vec_col: str = "embedding",
                  quantize: int = 4) -> DataFrame:
    """BM25 + exact-cosine weighted-linear hybrid top-k (same arms as
    ``hybrid_rrf``, min-max-normalized and weighted instead of
    rank-fused). Output: (doc_id, fused_score, norm_text, norm_vec)."""
    from .ann import _dot, _norm, _qvec_lit

    text = index.search(query, k=n_candidates, mode=mode,
                        use_wand=use_wand, quantize=quantize)
    text_arm = (text.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(n_candidates)
                .select(F.col("doc_id").alias("_id"),
                        F.col("score").alias("s")))
    qv = _qvec_lit(query_vec)
    v = F.col(vec_col).cast("array<double>")
    cos = F.round(_dot(v, qv) / (_norm(v) * _norm(qv)), quantize)
    vec_arm = (emb_df.select(F.col(vec_id_col).alias("_id"),
                             cos.alias("s"))
               .orderBy(F.desc("s"), F.asc("_id")).limit(n_candidates))
    fused = linear_fuse([text_arm, vec_arm], [w_text, w_vec], k=k,
                        id_col="doc_id")
    return fused.withColumnRenamed("norm_0", "norm_text") \
                .withColumnRenamed("norm_1", "norm_vec")
