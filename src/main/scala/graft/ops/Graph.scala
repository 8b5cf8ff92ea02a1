package graft.ops

import graft.Materialize.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph ranking over an edge list — the link-analysis companion
  * to the label-propagation connected components in [[graft.llm.Dedup]].
  * PageRank over a transition/link graph is a standard corpus-quality
  * signal in web-scale training-data pipelines (rank hosts or items by
  * where traffic/links concentrate, then filter or weight documents by it).
  *
  * Scale shape: the rank state is one row per NODE (|V| rows, 16 bytes);
  * each iteration is one equi-join of the contribution edges against the
  * rank state (shuffle on the 8-byte node id) plus one partial+final
  * aggregation on the destination — nothing ever materializes more than
  * |E| rows, and the per-round plan is truncated by a checkpoint exactly
  * like connectedComponents, so analysis time stays flat at any iteration
  * count. For item graphs (|V| in the thousands-to-millions, |E| >> |V|)
  * Spark broadcast-joins the rank state automatically once it is under the
  * broadcast threshold, making rounds shuffle-free except the final
  * aggregate's map-side partials.
  */
object Graph {

  /** Weighted PageRank with damping and dangling-mass redistribution, run
    * for exactly `nIter` iterations (fixed iterations, not a convergence
    * test: deterministic output, one job per round, and an engine-portable
    * definition an external oracle can replay).
    *
    * `edges` must have columns (src, dst, w) with w > 0; multi-edges should
    * be pre-aggregated. Per round, for every node v:
    *
    *   pr'(v) = (1-d)/N + d * ( sum over in-edges (u,v) of pr(u)*w(u,v)/outw(u)
    *                            + danglingMass/N )
    *
    * where danglingMass = sum of pr(u) over nodes with no out-edges. The
    * dangling aggregate is folded into the round's single job via a
    * broadcast cross join of its 1-row result — no extra driver action per
    * round. Returns (node, pr, in_deg, out_deg).
    */
  def pageRank(edges: DataFrame, nIter: Int = 5,
               damping: Double = 0.85): DataFrame = {
    require(nIter >= 1, "nIter must be >= 1")
    // materialized once: the edge list feeds nodes/out-weights/contrib/
    // degree passes (6 consumers) — an unpersisted caller DAG would
    // re-execute per consumer
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst"),
      col(edges.columns(2)).cast("double").as("w")).materializeEager
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct().materializeEager
    // out-weight once, contributions as edge fractions: the loop never
    // touches raw weights again
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val contrib = e.join(outw, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("frac"))
      .materializeEager
    val dangling = nodes.join(outw.select(col("src").as("node")),
      Seq("node"), "left_anti").materializeEager
    // |V| is a bounded driver scalar (node count), read once before the loop
    val n = nodes.count().toDouble
    val base = (1.0 - damping) / n

    var pr = nodes.select(col("node"), lit(1.0 / n).as("pr")).materializeEager
    var iter = 0
    while (iter < nIter) {
      val dangMass = pr.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm"))
      val incoming = contrib
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("frac") * col("pr")).as("__inc"))
      pr = nodes
        .join(incoming, Seq("node"), "left")
        .crossJoin(broadcast(dangMass))
        .select(col("node"),
          (lit(base) + lit(damping) *
            (coalesce(col("__inc"), lit(0.0)) + col("__dm") / lit(n)))
            .as("pr"))
        .materializeEager
      iter += 1
    }
    val inDeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    pr.join(inDeg, Seq("node"), "left").join(outDeg, Seq("node"), "left")
      .select(col("node"), col("pr"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
  }

  /** Semi-supervised majority-vote label propagation: seed labels spread
    * along undirected edges for `nIter` rounds — each round every still-
    * unlabeled node adjacent to labeled nodes takes the most common
    * neighbor label (ties -> lexicographically smallest). The transfer-
    * annotations-to-near-duplicates step (label one doc per cluster, spread
    * to the rest), and a cheap community detector.
    *
    * Labels are MONOTONE (assigned once, never revised), so each round
    * only touches the frontier: one join of edges against the labeled set,
    * one partial/final (node, label) count, one per-node argmax — all
    * shuffles on the 8-byte node id. The symmetrized edge set and the
    * per-round label state go through `materializeEager`, so the plan
    * stays flat and `spark.graft.reliableMaterialize` makes them
    * fault-tolerant ([[graft.Materialize]]). Returns (id, label, round)
    * where round 0 = seed.
    */
  def labelPropagate(pairs: DataFrame, seeds: DataFrame,
                     nIter: Int = 2): DataFrame = {
    require(nIter >= 1)
    val a = pairs.columns(0)
    val b = pairs.columns(1)
    // explode-symmetrized: one pass over the (possibly expensive) pair
    // generator instead of a two-branch union re-executing it — see
    // Dedup.connectedComponentsWithStats
    val edges = pairs
      .select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct().materializeEager
    var labels = seeds
      .select(col(seeds.columns(0)).as("id"),
        col(seeds.columns(1)).as("label"), lit(0L).as("round"))
      .materializeEager
    for (r <- 1 to nIter) {
      val votes = edges
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("__c"))
      val won = votes
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
            .orderBy(col("__c").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("id"), col("label"), lit(r.toLong).as("round"))
      labels = labels.union(won).materializeEager
    }
    labels
  }

  /** HITS hubs-and-authorities over a directed edge list — the
    * bipartite-flavored companion to [[pageRank]]: authorities are nodes
    * good sources point AT, hubs are nodes that point at good
    * authorities (referrer quality vs destination quality in a
    * transition graph; PageRank conflates the two).
    *
    * Fixed `nIter` mutual-reinforcement rounds, each: authority = in-sum
    * of hub scores, L2-normalized; hub = out-sum of the new authorities,
    * L2-normalized. Scale shape matches pageRank: state is |V| 16-byte
    * rows, each half-round is one edge-vs-state equi-join on an 8-byte
    * node id plus a partial/final aggregate; the L2 norm folds into the
    * round as a broadcast 1-row cross join (no extra action), and the
    * plan truncates per round via `materializeEager` (fault-tolerant under
    * `spark.graft.reliableMaterialize`, see [[graft.Materialize]]).
    * Returns (node, auth, hub) — nodes with no in-edges carry auth 0, no
    * out-edges hub 0.
    */
  def hits(edges: DataFrame, nIter: Int = 3): DataFrame = {
    require(nIter >= 1, "nIter must be >= 1")
    // Materialized once via checkpoint, not .persist(): the columnar-cache
    // build/decode of InMemoryRelation measured 3-30x the CPU of the raw-row
    // checkpoint on this path, and its accurate-but-tiny stats flip
    // downstream joins to plans that re-burn CPU per consumer (r9
    // hits2/q210ab/assoc3 A/Bs, history/OPTIMIZATION_r09.md).
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
      .materializeEager
    def l2(df: DataFrame, c: String): DataFrame = {
      val n = df.agg(sqrt(sum(col(c) * col(c))).as("__n"))
      df.crossJoin(broadcast(n))
        .select(col("node"), (col(c) / col("__n")).as(c))
    }
    // SPARSE loop state: a node absent from `auth`/`hub` has score exactly
    // 0.0, and a 0.0 term contributes exactly 0.0 to every downstream sum
    // (IEEE x + 0.0 == x), so the per-half-round `nodes LEFT JOIN` zero-fill
    // is equivalent to filling zeros ONCE at the end — two |V|-row joins per
    // round removed. Each half-round checkpoints the RAW in/out-sum and
    // derives both the L2 norm and the normalized frame from the
    // checkpointed rows, so the edge-vs-state join+aggregate executes once
    // per half-round instead of twice (norm pass + output pass); the
    // normalization expression (score / norm) is unchanged, so emitted
    // doubles are bit-identical.
    var hub: DataFrame = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to nIter) {
      val authRaw = e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth"))
        .materializeEager
      auth = l2(authRaw, "auth")
      val hubRaw = e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub"))
        .materializeEager
      hub = l2(hubRaw, "hub")
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
      .select(col("node"), coalesce(col("auth"), lit(0.0)).as("auth"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
  }

  /** Per-node triangle membership counts over an undirected edge list —
    * the local-clustering / community-density signal (a near-dup cluster
    * that is a clique triangulates heavily; a star of coincidental
    * matches does not).
    *
    * Scale shape: edges are canonicalized and deduped, then ORIENTED from
    * the (degree, id)-smaller endpoint to the larger — under that total
    * order every out-neighborhood is O(sqrt |E|), so the wedge join
    * (oriented ⋈ oriented on the middle node) does O(|E|^1.5) work
    * instead of sum-of-degree-squared; the closing edge check is one more
    * equi-join. Each triangle materializes exactly once regardless of the
    * order used (any strict total order picks out exactly one oriented
    * wedge + closing edge per triangle), which is what lets an external
    * oracle replay the count with plain id ordering. Every shuffle row is
    * two-or-three 8-byte ids.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      // the canonical edge list is consumed 4x (degree pass + three wedge
      // sides): materialize it once, or an expensive upstream candidate
      // generator (e.g. the n-gram pair join) re-runs per consumer
      .materializeEager
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("lo"),
        when(aFirst, col("b")).otherwise(col("a")).as("hi"))
      .materializeEager // three wedge-join sides read this
    val tri = oriented.select(col("lo").as("u"), col("hi").as("v"))
      .join(oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v"))
      .join(oriented.select(col("lo").as("u"), col("hi").as("w")), Seq("u", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-round k-core peeling: repeatedly delete vertices of degree
    * < k (with their edges) for exactly `nRounds` rounds and report the
    * per-round (n_vertices, n_edges) trajectory — the standard "how much
    * of this graph is load-bearing vs fringe" audit, and the degeneracy
    * preprocessing step dense-subgraph miners start from. Fixed rounds
    * keep the output deterministic and oracle-replayable (an unrolled
    * round is plain SQL); a `converged` flag on each row records whether
    * the edge set had already stabilized, so callers see when the true
    * k-core was reached within the budget.
    *
    * Scale shape: each round is one degree aggregation (partial+final on
    * the 8-byte vertex id) and two semi-joins of the edge list against the
    * surviving-vertex set — shuffle rows never exceed |E| 16-byte pairs,
    * and the plan is checkpoint-truncated per round exactly like
    * [[pageRank]]. Vertices are defined as edge endpoints (isolated
    * vertices carry no edges and leave the trajectory unaffected).
    *
    * `edges` columns (src, dst), treated as undirected; canonicalized and
    * deduplicated internally. Returns (round, n_vertices, n_edges,
    * converged) for round = 0 (input) .. nRounds.
    */
  def kCorePeel(edges: DataFrame, k: Int, nRounds: Int): DataFrame = {
    require(k >= 1 && nRounds >= 1)
    var cur = edges
      .select(least(col(edges.columns(0)), col(edges.columns(1))).as("src"),
        greatest(col(edges.columns(0)), col(edges.columns(1))).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().materializeEager
    def summary(round: Int, e: DataFrame): DataFrame = e
      .select(explode(array(col("src"), col("dst"))).as("v"),
        lit(1L).as("half"))
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        countDistinct(col("v")).as("n_vertices"))
      .select(lit(round.toLong).as("round"), col("n_vertices"), col("n_edges"))
    var out = summary(0, cur)
    var round = 1
    while (round <= nRounds) {
      val deg = cur
        .select(explode(array(col("src"), col("dst"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("v"))
      cur = cur
        .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .materializeEager
      out = out.unionByName(summary(round, cur))
      round += 1
    }
    // converged = this round's edge count equals the previous round's —
    // a lag over the (nRounds+1)-row trajectory, not a per-round action
    val w = Window.orderBy(col("round"))
    out.withColumn("converged",
        col("round") > 0 && col("n_edges") === lag(col("n_edges"), 1).over(w))
      .orderBy(col("round"))
  }

  /** Unweighted single-source shortest paths (BFS hop distances) by
    * `nRounds` of min-plus relaxation over the undirected edge list —
    * Bellman-Ford with unit weights, in exact integer arithmetic. The
    * source is the smallest vertex id (a deterministic, data-derived
    * choice an oracle can replay). Returns one row per reached vertex:
    * (node, dist); vertices not reached within the budget are absent
    * (graphs of diameter <= nRounds get the exact BFS tree).
    *
    * Scale shape: the distance state is |V| 16-byte rows; each round is
    * one equi-join of state against edges (shuffle on the 8-byte id) and
    * one partial+final min — the same regime as [[pageRank]] rounds, plan
    * checkpointed per round. Monotone (distances only decrease), so
    * convergence within the budget is exact, not approximate.
    */
  def bfsDistances(edges: DataFrame, nRounds: Int): DataFrame = {
    require(nRounds >= 1)
    val e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .filter(col("src") =!= col("dst"))
    // explode-symmetrized single pass (see connectedComponentsWithStats)
    val sym = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct().materializeEager
    val srcId = sym.agg(min(col("src")).as("s"))
    var dist = sym.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(srcId))
      .filter(col("node") === col("s"))
      .select(col("node"), lit(0L).as("dist"))
      .materializeEager
    var round = 0
    while (round < nRounds) {
      val relaxed = sym.join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .materializeEager
      round += 1
    }
    dist
  }
}
