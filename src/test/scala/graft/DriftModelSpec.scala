package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Drift, LinearModel, NaiveBayes}

/** Drift.psi calibration (identical distributions score near zero, a
  * planted shift scores high, monotone in shift size), LinearModel
  * learning dynamics (loss decreases per epoch; a separable toy is
  * classified perfectly), and NaiveBayes semantics (class-exclusive
  * vocabulary classifies perfectly, priors break even evidence, unseen
  * tokens fall back per-class).
  */
class DriftModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def uni(n: Int, shift: Double) =
    (1 to n).map(i => ("k", i % 100 * 1.0 + shift)).toDF("k", "v")

  test("psi ~ 0 on identical distributions, grows with shift") {
    def psiOf(shift: Double): Double =
      Drift.psi(uni(2000, 0), uni(2000, shift), "k", "v", 10.0, 10)
        .head().getDouble(3)
    val same = psiOf(0)
    val small = psiOf(10)
    val big = psiOf(40)
    assert(same < 0.01, s"identical dists scored $same")
    assert(small > same && big > small, s"$same / $small / $big not monotone")
    assert(big > 0.25, s"planted 40% shift scored only $big")
  }

  test("psi handles a bin empty on one side (smoothing, no NaN/Inf)") {
    val ref = (1 to 100).map(i => ("k", 5.0)).toDF("k", "v")
    val cur = (1 to 100).map(i => ("k", 95.0)).toDF("k", "v")
    val p = Drift.psi(ref, cur, "k", "v", 10.0, 10).head().getDouble(3)
    assert(!p.isNaN && !p.isInfinite && p > 1.0)
  }

  test("logistic GD drives log-loss down each epoch and separates a toy") {
    // y = 1 iff x > 0, margin 1: linearly separable on (bias, x)
    val df = ((-50 to -1) ++ (1 to 50)).map(i =>
      (1.0, i / 10.0, if (i > 0) 1.0 else 0.0)).toDF("b", "x", "y")
    val losses = (1 to 3).map { k =>
      val w = LinearModel.logisticGd(df, Seq("b", "x"), "y", lr = 1.0, nIter = k)
      LinearModel.logisticEval(df, Seq("b", "x"), "y", w).head().getDouble(0)
    }
    assert(losses(1) < losses(0) && losses(2) < losses(1), losses.toString)
    val w = LinearModel.logisticGd(df, Seq("b", "x"), "y", lr = 1.0, nIter = 25)
    val acc = LinearModel.logisticEval(df, Seq("b", "x"), "y", w)
      .head().getDouble(1)
    assert(acc == 1.0, s"separable toy accuracy $acc")
  }

  private def nbPred(sc: org.apache.spark.sql.DataFrame): Map[Long, String] =
    sc.collect().groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> rows.maxBy(r => (r.getDouble(2), r.getString(1)))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.String.reverse)).getString(1)
    }

  test("naive Bayes: class-exclusive vocab classifies a toy perfectly") {
    val train = Seq.fill(10)(("a", Seq("alpha", "apple"))) ++
      Seq.fill(10)(("b", Seq("beta", "banana")))
    val ev = Seq((1L, Seq("alpha", "alpha", "apple")),
      (2L, Seq("banana", "beta")), (3L, Seq("apple", "banana", "apple")))
    val sc = NaiveBayes.scores(train.toDF("lang", "toks"),
      ev.toDF("doc_id", "toks"), "doc_id", "lang", "toks")
    val pred = nbPred(sc)
    assert(pred(1L) == "a" && pred(2L) == "b" && pred(3L) == "a")
  }

  test("naive Bayes: priors decide when token evidence is symmetric; unseen tokens fall back") {
    // 30 a-docs vs 10 b-docs over the SAME vocabulary distribution:
    // an eval doc of unseen-only tokens must go to the bigger prior, and
    // one seen-token doc with equal class counts likewise
    val train = Seq.fill(30)(("a", Seq("shared"))) ++ Seq.fill(10)(("b", Seq("shared")))
    val ev = Seq((1L, Seq("never_seen")), (2L, Seq("shared")))
    val sc = NaiveBayes.scores(train.toDF("lang", "toks"),
      ev.toDF("doc_id", "toks"), "doc_id", "lang", "toks")
    // every eval doc gets a score row per train class (fallback included)
    assert(sc.groupBy("doc_id").count().collect().forall(_.getLong(1) == 2L))
    val pred = nbPred(sc)
    assert(pred(1L) == "a" && pred(2L) == "a")
  }
}
