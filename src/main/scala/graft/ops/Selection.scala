package graft.ops

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Coverage-driven data selection: pick the k documents that together
  * cover the most distinct items (tokens, n-grams, topics) — the greedy
  * (1 - 1/e)-approximate maximum-coverage algorithm, which is the
  * submodular-selection step behind "choose a diverse subset to
  * annotate/train on" pipelines.
  *
  * Shape: CELF / lazy-greedy. Submodularity means a document's marginal
  * gain only DECREASES as the covered set grows, so the gain computed in
  * an earlier round is a valid UPPER BOUND now. We keep a `bounds`
  * table (one ~16-byte row per doc: id, stale upper bound); each round
  * pulls the top B+1 candidates by bound (TakeOrdered, a bounded driver
  * collect), fresh-evaluates ONLY the stale ones among the top B — an
  * anti-join over those B docs' items against the covered set, never the
  * full corpus — and accepts the best evaluated gain the moment it
  * strictly beats the (B+1)-th candidate's bound: nothing outside the
  * batch can reach it (true gain <= bound <= nextUb < winner), and on
  * equality it widens the batch, so equal-gain ties still resolve to the
  * globally smallest id exactly as an eager greedy would. Fresh gains
  * accumulate in a driver-side map during the round (<= batch sizes) and
  * fold into `bounds` in ONE broadcast-join rewrite at round end — the
  * eager full-corpus aggregate survives only as round 1's bound seed.
  * The item table is hash-clustered by doc id and materialized once as a
  * raw-row checkpoint (the seed aggregate and every per-round candidate
  * filter read it shuffle-free; the r9 columnar persist() cost 3x the CPU
  * of the whole query in cache encode/decode — r10 A/B, persist 25.7
  * CPU-s / 10.8 s wall vs checkpoint 8.1 / 7.6 on the q139 call,
  * history/OPTIMIZATION_r10.md). `covered` and `bounds` are checkpointed
  * per round so the plan stays flat, exactly like connectedComponents.
  * Every checkpoint here is `materializeEager`, so
  * `spark.graft.reliableMaterialize` makes them fault-tolerant for
  * executor-loss survival on a real cluster ([[graft.Materialize]]).
  */
object Selection {

  /** Greedy max-cover over `items` (first column: doc id, second: item);
    * duplicates are fine — coverage counts distinct items. Ties break on
    * the smaller id. Returns (round, id, gain) for the k picks, stopping
    * early when everything is covered. Results are IDENTICAL to the
    * eager greedy (same picks, same gains, same tie-breaks) — CELF only
    * changes how much work each round does.
    */
  def greedyMaxCover(items: DataFrame, k: Int,
                     celfBatch: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(celfBatch >= 1, "celfBatch must be >= 1")
    val spark = items.sparkSession
    // hash-cluster + sort by id: the per-round `id IN (batch)` filter
    // prunes cached batches by min/max stats, and both the (id, item)
    // dedup and the groupBy(id) seed run shuffle-free on the id-hash
    // layout (partitioning by id already co-locates every (id, item))
    // eager raw-row checkpoint (reliable on a cluster when asked): blocks
    // are context-cleaned once the picks are collected and `it` becomes
    // unreachable; Bench/Verify's dropQueryState frees them deterministically
    val it = items
      .select(col(items.columns(0)).as("id"), col(items.columns(1)).as("item"))
      .repartition(col("id"))
      .dropDuplicates(Seq("id", "item"))
      .sortWithinPartitions(col("id"))
      .materializeEager
    val idType = it.schema("id").dataType
    // Round-1 gains against an empty covered set ARE the exact gains.
    var bounds = it.groupBy(col("id")).agg(count(lit(1)).as("ub"))
      .materializeEager
    var covered = it.select(col("item")).limit(0).materializeEager
    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    var round = 1
    // id -> exact gain vs the CURRENT covered set; reset each round
    val freshGain = scala.collection.mutable.HashMap.empty[Any, Long]
    var round1 = true
    // widening cap: past this the round falls back to one fully
    // distributed eager evaluation (TakeOrdered(1)), so a massively
    // tied corpus can never grow the driver collect unboundedly
    val maxBatch = math.max(celfBatch, 65536)
    // Driver-side id comparisons MUST agree with the Spark orderings used
    // around them (the orderBy(id) batch prefix, the `id < bestId` stealer
    // filter, the stealer's min(id)): Spark compares strings as UTF-8
    // bytes unsigned, while Java's String.compareTo is UTF-16 code-unit
    // order — the two disagree on supplementary characters. Compare
    // strings the way Spark does; all other id types order identically.
    def minId(a: Any, b: Any): Any = (a, b) match {
      case (sa: String, sb: String) =>
        val ba = sa.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = sb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (java.util.Arrays.compareUnsigned(ba, bb) <= 0) a else b
      case _ =>
        if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b
    }
    while (round <= k) {
      freshGain.clear()
      var win: Option[(Any, Long)] = None
      var stop = false
      var b = celfBatch
      while (win.isEmpty && !stop) {
        if (round1 || b > maxBatch) {
          // Round 1's seed bounds are already exact gains, so the heap
          // head wins outright; past the widening cap, one distributed
          // eager round (full anti-join + TakeOrdered(1)) decides.
          val src =
            if (round1) bounds
            else it.join(covered, Seq("item"), "left_anti")
              .groupBy(col("id")).agg(count(lit(1)).as("ub"))
          val head = src.orderBy(col("ub").desc, col("id")).limit(1).collect()
          if (head.isEmpty || head.head.getLong(1) == 0L) stop = true
          else {
            win = Some((head.head.get(0), head.head.getLong(1)))
            freshGain(head.head.get(0)) = head.head.getLong(1)
          }
        } else {
          // Stale ordering is stable across widening (bounds unchanged
          // within a round), so every previously evaluated candidate
          // stays inside the growing top-B prefix.
          val top = bounds.orderBy(col("ub").desc, col("id")).limit(b + 1)
            .collect()
          if (top.isEmpty) stop = true
          else {
            val batch = top.take(b)
            val nextUb = if (top.length > b) top(b).getLong(1) else -1L
            val staleIds = batch.map(_.get(0))
              .filterNot(freshGain.contains).toSeq
            if (staleIds.nonEmpty) {
              // One bounded job: the stale candidates' items anti-joined
              // against covered; ids absent from the aggregate have every
              // item covered (gain 0). Small batches use an isin literal
              // (prunes the cached id-sorted batches by min/max stats);
              // past a few thousand ids that expression tree gets huge, so
              // the widened ladder switches to a broadcast semi-join on a
              // tiny id DataFrame instead.
              val candidates =
                if (staleIds.length <= 2048)
                  it.filter(col("id").isin(staleIds: _*))
                else {
                  val idsDf = spark.createDataFrame(
                    spark.sparkContext.parallelize(
                      staleIds.map(Row(_)), 1),
                    StructType(Seq(StructField("id", idType, nullable = true))))
                  it.join(broadcast(idsDf), Seq("id"), "left_semi")
                }
              val gains = candidates
                .join(covered, Seq("item"), "left_anti")
                .groupBy(col("id")).agg(count(lit(1)).as("gain"))
                .collect().map(r => r.get(0) -> r.getLong(1)).toMap
              staleIds.foreach(i => freshGain(i) = gains.getOrElse(i, 0L))
            }
            // winner among the batch by exact gain; ties break on the
            // globally smallest id (NOT batch order — a higher-bound
            // candidate whose gain fell to the tie value may carry a
            // larger id than a lower-bound tied one)
            val bestGain = batch.iterator.map(r => freshGain(r.get(0))).max
            val bestId = batch.iterator.filter(r =>
              freshGain(r.get(0)) == bestGain).map(_.get(0)).reduce(minId)
            if (bestGain == 0L && nextUb <= 0L) stop = true
            else if (bestGain > nextUb) win = Some((bestId, bestGain))
            else if (bestGain == nextUb) {
              // Tie plateau: outside candidates all have ub <= bestGain,
              // so only one question is open — does some candidate with
              // id < bestId and bound == bestGain reach EXACTLY bestGain?
              // (It cannot exceed it.) One targeted job decides, instead
              // of climbing the widen ladder through a plateau that in
              // tie-heavy corpora (mass-duplicated docs) spans the whole
              // table: its cost is bounded by the contenders' items, and
              // batch members caught by the stale-bound filter re-evaluate
              // to their known lower gains and drop out harmlessly.
              val contenders = bounds.filter(
                col("ub") === lit(bestGain) && col("id") < lit(bestId))
                .select(col("id"))
              val stealer = it.join(contenders, Seq("id"), "left_semi")
                .join(covered, Seq("item"), "left_anti")
                .groupBy(col("id")).agg(count(lit(1)).as("__g"))
                .filter(col("__g") === lit(bestGain))
                .agg(min(col("id")).as("__m")).collect()
              val winId =
                if (stealer.isEmpty || stealer.head.isNullAt(0)) bestId
                else stealer.head.get(0)
              freshGain(winId) = bestGain
              win = Some((winId, bestGain))
            } else b = b * 4 // an outside candidate could still win
          }
        }
      }
      win match {
        case None => round = k + 1 // all items covered: stop early
        case Some((winId, winGain)) =>
          picks += Row(round.toLong, winId, winGain)
          covered = covered
            .union(it.filter(col("id") === lit(winId)).select(col("item")))
            .materializeEager
          // fold this round's exact gains back as the next round's (still
          // valid, tighter) bounds — one broadcast-join rewrite
          val freshDf = spark.createDataFrame(
            spark.sparkContext.parallelize(
              freshGain.toSeq.map { case (i, g) => Row(i, g) }, 1),
            StructType(Seq(StructField("id", idType, nullable = true),
              StructField("__g", LongType, nullable = false))))
          bounds = bounds.filter(col("id") =!= lit(winId))
            .join(broadcast(freshDf), Seq("id"), "left")
            .select(col("id"), coalesce(col("__g"), col("ub")).as("ub"))
            .materializeEager
          round += 1
          round1 = false
      }
    }
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("id", idType, nullable = true),
      StructField("gain", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(picks.toSeq, 1), schema)
  }

  /** 2-D Pareto frontier (skyline), both dimensions maximized — the
    * "best quality at every length" trade-off curve (no point on it is
    * beaten on both axes by any other). Returns the DISTINCT frontier
    * points with a representative min id and multiplicity.
    *
    * Shape: points collapse to the distinct (x, y) grid first (partial
    * agg), then one RANGE-partitioned two-phase prefix scan in
    * (x desc, y desc) order — per-partition running max of y via a
    * window, cross-partition offsets from the <= p-row per-partition max
    * table broadcast back (the [[PrefixSum]] pattern: no single global
    * ordering task). Over distinct points, dominated is EXACTLY
    * "some prefix point has y >= mine", so one comparison decides.
    */
  def paretoFrontier2d(df: DataFrame, xCol: String, yCol: String,
                       idCol: String): DataFrame = {
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pts = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(min(col(idCol)).as("min_id"), count(lit(1)).as("n_rows"))
    val ranged = pts
      .repartitionByRange(p, col("x").desc, col("y").desc)
      .withColumn("__pid", spark_partition_id())
      // lazy localCheckpoint, not persist: pins partition ids between the
      // offsets read and the final scan (both branches share one marked
      // RDD), and its blocks are context-cleaned once the result is
      // unreachable (see [[PrefixSum]]'s rationale)
      .materialize
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("x").desc, col("y").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid")).agg(max(col("y")).as("__pm"))
      .withColumn("__off", max(col("__pm")).over(wOff))
      .select(col("__pid"), col("__off"))
    ranged
      .withColumn("__wm", max(col("y")).over(wIn))
      .join(broadcast(offsets), Seq("__pid"))
      .filter(coalesce(greatest(col("__wm"), col("__off")),
        col("__wm"), col("__off")).isNull ||
        coalesce(greatest(col("__wm"), col("__off")),
          col("__wm"), col("__off")) < col("y"))
      .select(col("x"), col("y"), col("min_id"), col("n_rows"))
  }
}
