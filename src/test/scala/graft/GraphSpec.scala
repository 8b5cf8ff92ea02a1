package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graph

/** PageRank invariants on fixtures with known closed-form answers: mass
  * conservation (with and without dangling nodes), symmetry on a cycle,
  * hub concentration on a star, and weighted contribution splitting.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val eps = 1e-9

  private def prMap(edges: Seq[(Long, Long, Double)], nIter: Int = 30) = {
    val df = Graph.pageRank(edges.toDF("src", "dst", "w"), nIter = nIter)
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("3-cycle: uniform rank 1/3, mass conserved") {
    val pr = prMap(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0)))
    assert(pr.values.forall(v => math.abs(v - 1.0 / 3) < eps))
    assert(math.abs(pr.values.sum - 1.0) < eps)
  }

  test("dangling node: mass still sums to 1, dangling redistributes") {
    // 1 -> 2, 2 has no out-edges: without redistribution mass leaks each
    // round; with it, total stays exactly 1
    val pr = prMap(Seq((1L, 2L, 1.0)))
    assert(math.abs(pr.values.sum - 1.0) < eps)
    assert(pr(2L) > pr(1L)) // 2 receives 1's contribution plus its share
  }

  test("star graph concentrates rank on the hub") {
    val spokes = (2L to 6L)
    val pr = prMap(spokes.map(s => (s, 1L, 1.0)) ++ spokes.map(s => (1L, s, 1.0)))
    assert(spokes.forall(s => pr(1L) > pr(s)))
    assert(math.abs(pr.values.sum - 1.0) < eps)
  }

  test("edge weights split contributions proportionally") {
    // 1 sends 3/4 of its rank to 2 and 1/4 to 3; 2 and 3 send back to 1.
    // At the fixpoint pr(2) - pr(3) = d * (w2-w3)/(w2+w3) * pr(1).
    // Convergence is geometric at rate d: 0.85^120 ~ 3e-9 << the 1e-6
    // assertion (60 rounds leaves ~6e-6 and misses it).
    val pr = prMap(Seq((1L, 2L, 3.0), (1L, 3L, 1.0),
      (2L, 1L, 1.0), (3L, 1L, 1.0)), nIter = 120)
    assert(math.abs((pr(2L) - pr(3L)) - 0.85 * 0.5 * pr(1L)) < 1e-6)
  }

  test("in_deg/out_deg are edge counts, zero-filled") {
    val df = Graph.pageRank(Seq((1L, 2L, 1.0), (3L, 2L, 1.0)).toDF("a", "b", "c"))
    val m = df.collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(m(2L) == ((2L, 0L)) && m(1L) == ((0L, 1L)) && m(3L) == ((0L, 1L)))
  }

  test("labelPropagate: majority wins, ties break low, frontier advances by round") {
    // seeds: 1->"a", 2->"a", 3->"b"; node 4 touches all three (majority a);
    // node 5 only touches 4 (labeled in round 2); node 6 touches 2 and 3
    // equally (tie -> "a")
    val pairs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 6L), (3L, 6L))
      .toDF("idA", "idB")
    val seeds = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "label")
    val out = Graph.labelPropagate(pairs, seeds, nIter = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(4L) == (("a", 1L)))
    assert(out(6L) == (("a", 1L)))
    assert(out(5L) == (("a", 2L)))
    assert(out(1L)._2 == 0L && out(3L) == (("b", 0L)))
  }

  test("labelPropagate reliableMaterialize: requires a checkpoint dir, then matches") {
    val pairs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 6L), (3L, 6L))
      .toDF("idA", "idB")
    val seeds = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "label")
    TestSpark.withReliableMaterialize {
      intercept[IllegalArgumentException] {
        spark.sparkContext.setCheckpointDir(null)
        Graph.labelPropagate(pairs, seeds, nIter = 2)
      }
      val dir = TestSpark.tmpDir("graft-lp-ckpt")
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val out = Graph.labelPropagate(pairs, seeds, nIter = 2)
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        assert(out(4L) == (("a", 1L)) && out(5L) == (("a", 2L)) &&
          out(6L) == (("a", 1L)))
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("hits: star concentrates authority on the hub-pointed center, cycle is uniform") {
    def hitsMap(edges: Seq[(Long, Long)]) =
      Graph.hits(edges.toDF("src", "dst"), nIter = 3)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 4 spokes all point at node 9: 9 is the only authority (auth 1,
    // hub 0); spokes are pure hubs (1/2 each after L2)
    val star = hitsMap(Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)))
    assert(math.abs(star(9L)._1 - 1.0) < eps && star(9L)._2 == 0.0)
    for (s <- 1L to 4L)
      assert(star(s)._1 == 0.0 && math.abs(star(s)._2 - 0.5) < eps)
    // directed 4-cycle: perfect symmetry, every score 1/2
    val cyc = hitsMap(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    for (n <- 1L to 4L) {
      assert(math.abs(cyc(n)._1 - 0.5) < eps && math.abs(cyc(n)._2 - 0.5) < eps)
    }
    // L2 invariant: both score vectors are unit length
    assert(math.abs(cyc.values.map(v => v._1 * v._1).sum - 1.0) < eps)
    assert(math.abs(cyc.values.map(v => v._2 * v._2).sum - 1.0) < eps)
  }

  test("hits sparse loop state: every edge endpoint appears in the output, " +
      "zero scores exact") {
    // The r9 rework keeps the loop state SPARSE (nodes with score 0 are
    // absent until the final zero-fill join). A chain a->b->c->d plus an
    // isolated sink edge e->f exercises src-only (a, e: auth must be
    // exactly 0.0), dst-only (d, f: hub exactly 0.0), and interior nodes,
    // across 2 rounds (the bench setting). The node SET must be complete
    // and no score may be NaN (an empty norm would poison the division).
    val out = Graph.hits(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("src", "dst"),
      nIter = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 8L, 9L))
    assert(out(1L)._1 == 0.0 && out(8L)._1 == 0.0) // src-only: auth exact 0
    assert(out(4L)._2 == 0.0 && out(9L)._2 == 0.0) // dst-only: hub exact 0
    out.values.foreach { case (a, h) =>
      assert(!a.isNaN && !h.isNaN && a >= 0.0 && h >= 0.0)
    }
    // L2 invariants survive the sparse representation
    assert(math.abs(out.values.map(v => v._1 * v._1).sum - 1.0) < eps)
    assert(math.abs(out.values.map(v => v._2 * v._2).sum - 1.0) < eps)
  }

  test("hits reliableMaterialize: requires a checkpoint dir, then matches") {
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)).toDF("src", "dst")
    TestSpark.withReliableMaterialize {
      intercept[IllegalArgumentException] {
        spark.sparkContext.setCheckpointDir(null)
        Graph.hits(edges, nIter = 3)
      }
      val dir = TestSpark.tmpDir("graft-hits-ckpt")
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val out = Graph.hits(edges, nIter = 3)
          .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        assert(math.abs(out(9L)._1 - 1.0) < eps && out(9L)._2 == 0.0)
        for (s <- 1L to 4L)
          assert(out(s)._1 == 0.0 && math.abs(out(s)._2 - 0.5) < eps)
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("triangleCounts: triangle, K4, square, star, and dirty edge lists") {
    def triOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.triangleCounts(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one triangle: every node in exactly 1
    assert(triOf(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4: each node in C(3,2) = 3 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(triOf(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // square without diagonals: none
    assert(triOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))).isEmpty)
    // star: none
    assert(triOf(Seq((1L, 2L), (1L, 3L), (1L, 4L))).isEmpty)
    // duplicates, reversed duplicates, self-loops all canonicalized away
    assert(triOf(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (2L, 3L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagate never relabels a seed or an earlier round") {
    // 10-"x" and many "y" neighbors: 10 keeps "x" even though every
    // neighbor says "y"
    val pairs = (1L to 5L).map(i => (i, 10L)).toDF("idA", "idB")
    val seeds = ((1L to 5L).map(i => (i, "y")) :+ ((10L, "x"))).toDF("id", "label")
    val out = Graph.labelPropagate(pairs, seeds, nIter = 2)
      .filter($"id" === 10L).collect()
    assert(out.length == 1 && out.head.getString(1) == "x" &&
      out.head.getLong(2) == 0L)
  }

  test("kCorePeel: path endpoints peel one per side per round; cycle is stable") {
    // path 1-2-3-4-5-6 at k=2: each round strips the two current endpoints
    // (degree 1); 6 vertices/5 edges -> 4/3 -> 2/1 -> 0/0, converged after
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val rows = Graph.kCorePeel(path, k = 2, nRounds = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(rows(0L) == ((6L, 5L, false)))
    assert(rows(1L) == ((4L, 3L, false)))
    assert(rows(2L) == ((2L, 1L, false)))
    assert(rows(3L) == ((0L, 0L, false)))
    assert(rows(4L) == ((0L, 0L, true)))
    // 4-cycle: every vertex has degree 2, nothing peels, converged at once
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = Graph.kCorePeel(cyc, k = 2, nRounds = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(c(0L) == ((4L, 4L, false)) && c(1L) == ((4L, 4L, true)) &&
      c(2L) == ((4L, 4L, true)))
  }

  test("bfsDistances: exact hop counts on a path, min source, budget bound") {
    // path 10-11-...-16, source = min id 10: dist = node - 10
    val path = (10L to 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val d = Graph.bfsDistances(path, nRounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == (10L to 16L).map(i => i -> (i - 10L)).toMap)
    // budget 2: only nodes within 2 hops are present (monotone frontier)
    val d2 = Graph.bfsDistances(path, nRounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(10L -> 0L, 11L -> 1L, 12L -> 2L))
    // disconnected component never appears
    val two = ((10L to 15L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("src", "dst")
    val d3 = Graph.bfsDistances(two, nRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!d3.contains(100L) && !d3.contains(101L) && d3(16L) == 6L)
  }
}
