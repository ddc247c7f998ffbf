"""BM25 top-k retrieval (SURVEY.md §2 training-data extras, round 5):
score documents against a query term set with Okapi BM25 and return
the global top-k — the standard lexical retrieval operator
(Robertson & Zaragoza 2009), the query-side complement to the
tfidf_top_terms keyword extractor.

Shape, and why it holds at 100 TB: the query is a handful of terms —
always broadcast. The token stream is filtered to query terms
MAP-SIDE (an `isin` against the literal set) before any shuffle, so
the (doc, term) tf aggregation moves only matching tokens, not the
corpus. Corpus stats (N, avgdl) arrive as a broadcast 1-row cross
join, never a collect. The final global top-k is orderBy + limit —
Spark's TakeOrdered, a per-partition partial top-k then a k-row
merge on the driver, NOT a single-partition total sort; the rank
column is attached AFTER the limit, over k rows.

Cross-engine determinism: per-(doc, term) contributions are rounded
to 6 decimals (the tfidf-proven ln grain), then summed per doc over
a SORTED (term ASC) fold so both engines add in the same order, then
the sum is rounded again — bit-stable ranking under libm ulp."""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["K1", "B", "bm25_topk"]

#: Okapi defaults; the contract oracle SQL interpolates repr() of
#: THESE (pagerank-style) so both engines use identical doubles.
K1 = 1.2
B = 0.75


def bm25_topk(docs: DataFrame, terms: list[str], k: int,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, score, rank) for the k best-matching docs. idf is the
    standard smoothed ln(1 + (N - df + ½)/(df + ½)) ≥ 0; df counts
    docs containing the term. Ties rank by id ASC."""
    d = docs.select(id_col,
                    F.split(F.lower(text_col), " ").alias("ws"))
    dl = d.select(id_col, F.size("ws").alias("dl"))
    st = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    # filter INSIDE the array before exploding: exploding every token
    # into a row first is 10M rows at sf1.0; the higher-order filter
    # keeps non-matching tokens from ever becoming rows, so explode
    # emits only query-term hits
    tf = (d.select(id_col,
                   F.explode(F.filter(
                       "ws", lambda w: w.isin(*terms))).alias("term"))
          .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # association mirrors the oracle SQL exactly: ((idf·tf)·(k1+1))
    # / (tf + k1·((1−b) + b·(dl/avgdl)))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + K1 * ((1.0 - B)
                                + B * (F.col("dl") / F.col("avgdl")))
    c = (tf.join(df_, "term").join(dl, id_col)
         .crossJoin(F.broadcast(st))
         .select(id_col, "term",
                 F.round(idf * F.col("tf") * (K1 + 1.0) / denom, 6)
                 .alias("c")))
    s = (c.groupBy(id_col)
         .agg(F.round(F.aggregate(
             F.sort_array(F.collect_list(F.struct("term", "c"))),
             F.lit(0.0), lambda acc, x: acc + x["c"]), 6)
             .alias("score")))
    top = s.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    # rank: the ≤ k rows gathered into ONE array (TakeOrdered already
    # emits a single partition, so no exchange), sorted by the same
    # (score DESC, id ASC) order, then position-exploded — an
    # unpartitioned window would do the same but warns on every run
    def before(x, y):
        return (F.when(x["score"] > y["score"], -1)
                .when(x["score"] < y["score"], 1)
                .when(x[id_col] < y[id_col], -1)
                .when(x[id_col] > y[id_col], 1).otherwise(0))
    ranked = top.agg(F.array_sort(F.collect_list(F.struct("score", id_col)),
                                  before).alias("r"))
    return ranked.select(F.posexplode("r").alias("pos", "r")).select(
        F.col("r")[id_col].alias(id_col), F.col("r.score").alias("score"),
        (F.col("pos") + 1).alias("rank"))
