package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.index.Stats

/** BM25 column expressions for the engine's scorers (pure built-in
  * arithmetic → whole-stage codegen). */
object BM25 {
  val K1: Double = Stats.K1
  val B: Double = Stats.B

  /** Lucene-style non-negative idf: ln((N - df + 0.5)/(df + 0.5) + 1). */
  def idf(nDocs: Long): Column =
    log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)

  /** tf/len part: tf(k1+1) / (tf + k1(1 - b + b·len/avgdl)). */
  def tfWeight(avgdl: Double): Column =
    (col("tf") * (K1 + 1)) /
      (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("len") / avgdl))

  /** Full per-(doc,term) score — expects columns tf, len, df. */
  def weight(avgdl: Double, nDocs: Long): Column =
    idf(nDocs) * tfWeight(avgdl)

  def idfValue(nDocs: Long, df: Long): Double =
    math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
}
