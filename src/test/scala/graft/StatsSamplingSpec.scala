package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Profile, Sampling}

/** joinSizeStats exactness vs a materialized join, and
  * exactStratifiedSample's exact-total / proportionality / determinism
  * guarantees.
  */
class StatsSamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("joinSizeStats join_rows equals the materialized join size") {
    val a = Seq(1, 1, 2, 3, 3, 3, 9).map(k => (k, s"a$k")).toDF("k", "va")
    val b = Seq(1, 2, 2, 3, 7).map(k => (k, s"b$k")).toDF("k", "vb")
    val stats = Profile.joinSizeStats(a, "k", b, "k").head()
    val real = a.join(b, Seq("k")).count()
    assert(stats.getLong(1) == real && real == 7L) // 1:2*1 + 2:1*2 + 3:3*1
    assert(stats.getLong(0) == 3)                  // common keys 1, 2, 3
    assert(stats.getLong(3) == 3)                  // max per key: key 3 -> 3*1
  }

  test("exactStratifiedSample returns exactly n, proportionally, deterministically") {
    val df = (1 to 400).map(i =>
      (i.toLong, if (i % 4 == 0) "small" else "big")).toDF("id", "g")
    val s1 = Sampling.exactStratifiedSample(df, "g", "id", 40)
    assert(s1.count() == 40)
    val byG = s1.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG("small") == 10 && byG("big") == 30) // exact 25%/75% split
    val s2 = Sampling.exactStratifiedSample(df.repartition(13), "g", "id", 40)
    assert(s1.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      s2.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("weightedSampleWithoutReplacement: exact n, deterministic, weight-biased") {
    // ids 1..400: multiples of 4 get weight 50, the rest 0.05 — heavy rows
    // dominate the draw (P(light outranks heavy) ~ u^1000-scale)
    val df = (1 to 400).map(i =>
      (i.toLong, if (i % 4 == 0) 50.0 else 0.05)).toDF("id", "w")
    val s1 = Sampling.weightedSampleWithoutReplacement(df, "id", "w", 20)
    val rows = s1.collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to 20L)) // dense ranks
    assert(rows.count(_.getDouble(1) == 50.0) >= 18, "heavy rows must dominate")
    val s2 = Sampling.weightedSampleWithoutReplacement(
      df.repartition(17), "id", "w", 20)
    assert(s1.select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      s2.select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("exactStratifiedSample largest remainder: totals hit n when shares don't divide") {
    // 7, 11, 13 rows; n = 10 -> base quotas 2,3,4 (sum 9) + 1 largest-remainder slot
    val df = ((1 to 7).map(i => (i.toLong, "a")) ++
      (8 to 18).map(i => (i.toLong, "b")) ++
      (19 to 31).map(i => (i.toLong, "c"))).toDF("id", "g")
    val s = Sampling.exactStratifiedSample(df, "g", "id", 10)
    assert(s.count() == 10)
    val byG = s.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG.values.sum == 10)
    // every stratum within 1 of its proportional share
    assert(math.abs(byG("a") - 10 * 7.0 / 31) <= 1 &&
      math.abs(byG("b") - 10 * 11.0 / 31) <= 1 &&
      math.abs(byG("c") - 10 * 13.0 / 31) <= 1)
  }
}
