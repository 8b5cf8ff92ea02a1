package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Materialize.Ops
import graft.ops.Recurrence

/** [[Recurrence]] against the chain of selects it replaces: the same bits
  * out (`doubleToRawLongBits`, not a tolerance), one plan whatever the step
  * count. The literal frames go through parquet so the select chain runs as
  * generated code, as in a query, and not folded into a local relation at
  * optimization.
  */
class RecurrenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frame(names: Seq[String], rows: Seq[Seq[Double]]): DataFrame = {
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = false)))
    val dir = TestSpark.tmpDir("graft-recurrence") + "/frame"
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def bits(df: DataFrame): Seq[Seq[Long]] =
    df.collect().toSeq.map(r => (0 until r.length)
      .map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))))

  private def nodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n => n }.size

  // q340_markov_attribution's absorbing-chain step: 5 scenario rows, a
  // 5x5 transition block t_<from>_<to>, conversion probabilities p_<chan>
  private val chans = Seq("click", "view", "signup", "error")
  private val froms = "start" +: chans
  private val tos = chans :+ "conv"
  private val tNames = froms.flatMap(f => tos.map(tt => s"t_${f}_$tt"))

  private lazy val markov: DataFrame = {
    val rnd = new Random(340)
    frame(tNames, Seq.fill(5) {
      froms.flatMap { _ =>
        val w = Seq.fill(tos.size)(rnd.nextDouble())
        // rows sum below 1: the rest of the mass goes to 'null'
        w.map(_ / (w.sum * (1.05 + rnd.nextDouble())))
      }
    })
  }

  private def markovStep(p: String => Column): Seq[Column] = chans.map { c =>
    chans.foldLeft(col(s"t_${c}_conv"))((acc, d) => acc + col(s"t_${c}_$d") * p(s"p_$d"))
  }

  private def markovStacked(steps: Int): DataFrame = {
    var cur = markov.select(tNames.map(col) ++ chans.map(c => lit(0.0).as(s"p_$c")): _*)
    for (_ <- 1 to steps)
      cur = cur.select(tNames.map(col) ++
        markovStep(col).zip(chans).map { case (e, c) => e.as(s"p_$c") }: _*)
    cur.select(chans.map(c => col(s"p_$c")): _*)
  }

  private def markovRecurrence(steps: Int): DataFrame =
    markov.select(Recurrence.iterate(chans.map(c => s"p_$c" -> lit(0.0)), steps)(markovStep)
        .as("ps"))
      .select(chans.map(c => col(s"ps.p_$c")): _*)

  test("q340's matrix step: the same bits as 20 stacked selects") {
    val want = bits(markovStacked(20))
    assert(want.size == 5 && want.flatten.distinct.size == 20)
    assert(bits(markovRecurrence(20)) == want)
  }

  test("a series-driven step (q482's Kalman filter): the same bits as the " +
    "stacked selects with checkpoint barriers") {
    val rnd = new Random(482)
    val ys = (0 to 29).map(k => s"y$k")
    val series = frame(ys, Seq(Seq.fill(30)((50 + rnd.nextInt(450)).toDouble)))
    val meanY = ys.map(col).reduce(_ + _) / 30.0
    val varY = ys.map(y => (col(y) - meanY) * (col(y) - meanY)).reduce(_ + _) / 30.0
    val out = Seq("x", "p", "sse")
    def step(x: Column, p: Column, q: Column, r: Column, sse: Column,
             y: Column): Seq[Column] = {
      val pPred = p + q
      val kg = pPred / (pPred + r)
      val innov = y - x
      Seq(x + kg * innov, r, q, (lit(1.0) - kg) * pPred, sse + innov * innov)
    }
    val state = Seq("x", "r", "q", "p", "sse")
    var cur = series.select(ys.map(col) ++ Seq(col("y0").as("x"), varY.as("r"),
      (varY / 10.0).as("q"), varY.as("p"), lit(0.0).as("sse")): _*)
    for (k <- 1 to 29) {
      cur = cur.select(ys.map(col) ++
        step(col("x"), col("p"), col("q"), col("r"), col("sse"), col(s"y$k"))
          .zip(state).map { case (e, n) => e.as(n) }: _*)
      if (k % 8 == 0) cur = cur.materializeEager
    }
    val want = bits(cur.select(out.map(col): _*))
    val kf = Recurrence.overInputs(Seq("x" -> col("y0"), "r" -> varY,
        "q" -> varY / 10.0, "p" -> varY, "sse" -> lit(0.0)),
        array(ys.tail.map(col): _*)) { (st, y) =>
      step(st("x"), st("p"), st("q"), st("r"), st("sse"), y)
    }
    assert(bits(series.select(kf.as("kf")).select(out.map(n => col(s"kf.$n")): _*)) == want)
  }

  test("the plan has as many nodes for 20 steps as for 2") {
    assert(nodes(markovRecurrence(2)) == nodes(markovRecurrence(20)))
    // the select chain grows with the step count, which this guards against
    assert(nodes(markovStacked(20)) > nodes(markovStacked(2)))
  }

  test("zero steps return the initial state; a negative count fails") {
    val init = chans.zipWithIndex.map { case (c, i) => s"p_$c" -> lit(i + 0.5) }
    val got = markov.limit(1)
      .select(Recurrence.iterate(init, 0)(_ => sys.error("a step ran")).as("ps"))
      .select(chans.map(c => col(s"ps.p_$c")): _*)
    assert(TestSpark.rows(got) == Seq(Seq(0.5, 1.5, 2.5, 3.5)))
    intercept[IllegalArgumentException](Recurrence.iterate(init, -1)(_ => Nil))
  }
}
