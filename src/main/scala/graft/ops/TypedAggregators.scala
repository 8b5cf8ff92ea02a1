package graft.ops

import org.apache.spark.sql.{Encoder, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator[IN, BUF, OUT]` examples — the engine's UDAF surface
  * (SURVEY.md §2C last row). These run as objectHashAggregate with partial
  * (map-side) + final merge like any built-in aggregate, so they scale the
  * same way `sum` does.
  */
object TypedAggregators {

  /** Misra-Gries heavy-hitters sketch: at most `k` (item, count) entries of
    * bounded-state per partial, merged with the Agarwal et al. mergeable-
    * summaries rule (sum counts, subtract the (k+1)-th largest, drop
    * non-positives). The guarantee — every item with true frequency
    * > N/(k+1) is present in the final sketch, under ANY partial/merge
    * order — is deterministic, which is what the oracle flag checks; the
    * per-item count error is at most N/(k+1).
    *
    * At 100 TB this replaces the exact `groupBy(token).count` top-k (a
    * full shuffle of every distinct token) with map-side state of k entries
    * and a k-entry merge — the only aggregate whose cost is independent of
    * the number of distinct items.
    */
  class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k >= 1, "k must be >= 1")
    def zero: Map[String, Long] = Map.empty

    def reduce(b: Map[String, Long], x: String): Map[String, Long] =
      b.get(x) match {
        case Some(c) => b.updated(x, c + 1)
        case None if b.size < k => b.updated(x, 1L)
        case None => // decrement-all step: drop entries reaching zero
          b.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
      }

    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count, keep strictly positive
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.flatMap { case (t, c) => if (c > cut) Some(t -> (c - cut)) else None }
      }
    }

    def finish(b: Map[String, Long]): Map[String, Long] = b
    def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  def misraGries(k: Int): TypedColumn[String, Map[String, Long]] =
    new MisraGries(k).toColumn

  /** Count-min sketch: a `d` x `w` counter grid; point estimates are the
    * min over the d rows and are NEVER below the true count, and exceed it
    * by more than (e/w)*N with probability at most e^-d per query. The
    * buffer is d*w longs regardless of stream cardinality, partials merge
    * by elementwise addition — the mergeable frequency summary for when
    * Misra-Gries' top-k contract is too narrow (arbitrary point queries
    * after one pass). A d=6, w=2048 sketch is 96 KiB: collecting the
    * finished sketch to the driver is a constant-size transfer, which is
    * the whole point of sketching a 100 TB stream.
    */
  final class CountMin(d: Int, w: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require(d >= 1 && w >= 2, "need d >= 1 rows and w >= 2 counters")

    def zero: Array[Long] = new Array[Long](d * w)

    def reduce(b: Array[Long], x: String): Array[Long] = {
      var i = 0
      while (i < d) { b(i * w + CountMin.slot(x, i, w)) += 1; i += 1 }
      b
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  object CountMin {
    /** FNV-1a over UTF-8 bytes, row index folded in as a prefix byte —
      * self-contained and JVM-version-independent, so executor-side
      * updates and driver-side estimates always agree.
      */
    def slot(x: String, row: Int, w: Int): Int = {
      var h = 1469598103934665603L ^ (row * 1099511628211L)
      val bytes = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) {
        h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L
        i += 1
      }
      (((h % w) + w) % w).toInt
    }

    /** Point estimate from a finished sketch. */
    def estimate(sketch: IndexedSeq[Long], d: Int, w: Int, x: String): Long =
      (0 until d).map(i => sketch(i * w + slot(x, i, w))).min
  }

  def countMin(d: Int, w: Int): TypedColumn[String, Array[Long]] =
    new CountMin(d, w).toColumn
}
