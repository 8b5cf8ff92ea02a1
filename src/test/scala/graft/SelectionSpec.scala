package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Selection

/** Greedy max-cover semantics: marginal gain (not set size) drives each
  * pick, ties break on the smaller id, exhausted universes stop early,
  * and duplicate (id, item) rows don't inflate gains.
  */
class SelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("greedy picks by marginal gain, not set size") {
    // A={1..6}, B={1..5,7}, C={7,8,9}: by-size top-2 is A,B (covers 7);
    // greedy is A then C (covers 9)
    val items = ((1 to 6).map(("A", _)) ++ ((1 to 5) :+ 7).map(("B", _)) ++
      (7 to 9).map(("C", _))).toDF("id", "item")
    val picks = Selection.greedyMaxCover(items, 2).collect()
    assert(picks.map(_.getString(1)).toSeq == Seq("A", "C"))
    assert(picks.map(_.getLong(2)).toSeq == Seq(6L, 3L))
  }

  test("stops early when the universe is exhausted; dup rows don't inflate") {
    val items = Seq(("A", 1), ("A", 1), ("A", 2), ("B", 2)).toDF("id", "item")
    val picks = Selection.greedyMaxCover(items, 5).collect()
    assert(picks.length == 1) // A covers {1,2}; B adds nothing -> stop
    assert(picks.head.getString(1) == "A" && picks.head.getLong(2) == 2L)
  }

  test("ties break on the smaller id") {
    val items = Seq(("x", 1), ("x", 2), ("y", 3), ("y", 4)).toDF("id", "item")
    val first = Selection.greedyMaxCover(items, 1).collect().head
    assert(first.getString(1) == "x")
  }

  test("CELF lazy-greedy matches a driver-side eager greedy exactly (picks, gains, ties)") {
    // 40 docs over a 300-item universe with overlapping coverage and
    // planted exact ties; small celfBatch forces multiple freshen
    // iterations per round so the lazy path is actually exercised.
    val rows = (0 until 40).flatMap { d =>
      val n = 3 + (d * 7) % 13
      (0 until n).map(i => (s"d${"%02d".format(d)}", (d * 11 + i * 5) % 300))
    }
    val got = Selection.greedyMaxCover(rows.toDF("id", "item"), 8, celfBatch = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // reference: driver-side eager greedy with identical tie-break
    val sets = rows.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    var covered = Set.empty[Int]
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var r = 1
    var go = true
    while (r <= 8 && go) {
      val gains = sets.view.mapValues(s => (s -- covered).size).toMap
      val best = gains.filter(_._2 > 0)
      if (best.isEmpty) go = false
      else {
        val (id, g) = best.toSeq.sortBy(x => (-x._2, x._1)).head
        want += ((r.toLong, id, g.toLong))
        covered ++= sets(id)
        r += 1
      }
    }
    assert(got == want.toSeq)
  }

  test("greedyMaxCover reliableMaterialize: requires a checkpoint dir, then matches") {
    val items = Seq(("A", 1), ("A", 2), ("B", 2), ("B", 3), ("C", 4)).toDF("id", "item")
    TestSpark.withReliableMaterialize {
      intercept[IllegalArgumentException] {
        spark.sparkContext.setCheckpointDir(null)
        Selection.greedyMaxCover(items, 2)
      }
      val dir = TestSpark.tmpDir("graft-sel-ckpt")
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val picks = Selection.greedyMaxCover(items, 3, celfBatch = 1)
          .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
        assert(picks == Seq(("A", 2L), ("B", 1L), ("C", 1L)))
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("paretoFrontier2d: staircase kept, dominated dropped, duplicates counted") {
    val rows = Seq(
      (1L, 1.0, 5L), (2L, 2.0, 4L), (3L, 3.0, 3L), // the frontier staircase
      (4L, 1.0, 4L),  // dominated by (1.0, 5) and (2.0, 4)
      (5L, 2.0, 4L),  // duplicate of the (2.0, 4) frontier point
      (6L, 2.5, 3L))  // dominated by (3.0, 3)
    val out = Selection.paretoFrontier2d(rows.toDF("id", "x", "y"), "x", "y", "id")
      .collect().map(r => (r.getDouble(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set((1.0, 5L), (2.0, 4L), (3.0, 3L)))
    assert(out((2.0, 4L)) == (2L, 2L)) // min id 2, multiplicity 2
    assert(out((1.0, 5L)) == (1L, 1L))
  }

  test("paretoFrontier2d matches brute force on a random-ish cloud across partitions") {
    val pts = (1 to 500).map { i =>
      (i.toLong, (i * 37 % 101).toDouble, (i * 53 % 97).toLong)
    }
    val got = Selection.paretoFrontier2d(
        pts.toDF("id", "x", "y").repartition(13), "x", "y", "id")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSet
    val distinct = pts.map(p => (p._2, p._3)).distinct
    val want = distinct.filter { case (x, y) =>
      !distinct.exists { case (x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
  }
}
