package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Runtime scale-shape audit: executes every SparkEntry query and reads,
  * from executed-plan metrics, the ACTUAL row counts feeding the three node
  * classes that silently break at 100x data:
  *
  *   - SINGLE-PARTITION windows (the "No Partition Defined" WindowExec
  *     class) — safe only when the input is bounded by construction (a
  *     rank<=k filter Catalyst rewrites to TakeOrdered below the window,
  *     a calendar-bounded series, a small aggregate);
  *   - BROADCAST exchanges — safe only when the broadcast relation is a
  *     dim/stat/top-k table, never O(rows) (driver + every executor
  *     materialize it);
  *   - nested-loop / cartesian joins — safe only when one side is a
  *     bounded fold (1-row stats, parameter grids).
  *
  * This audit turns those claims from comments into measured numbers per
  * query; running it at two scale factors and comparing growth separates
  * "bounded" (flat or saturating) from O(rows) (tracks the data).
  *
  * AQE is disabled for the audit session so the executed plan is a plain
  * tree whose node metrics are directly traversable; AQE never changes a
  * node's required distribution, so the verdicts are the ones production
  * plans face.
  *
  * Also dumped per query: total rows through shuffle exchanges vs rows
  * scanned (shuffle amplification — flags fan-out-before-reduction), and
  * rows through any exchange whose schema carries a wide column (document
  * text, raw JSON props, dense embeddings, binary media) — the row-width
  * class of bug the r4 embeddingPairs fix removed.
  *
  * Usage: runMain graft.WindowAudit [sfDir] [rowThreshold]
  * (`SPARK_GRAFT_ONLY` picks queries). rowThreshold < 0 dumps per-query
  * maxima (`[dump] <q> <win> <bcast> <loop> <shuffled> <scanned>
  * <wideMax>[,rows:cols...]`) for cross-sf comparison instead of flagging.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val threshold = GraftSession.long("rowThreshold", args.lift(1), 5000L)
    // rows reaching `p`: descend through 1:1 row-preserving nodes until a
    // node that reports output rows
    def inputRows(p: SparkPlan): Option[Long] = {
      def rowsOf(n: SparkPlan): Option[Long] = n match {
        case s: ShuffleExchangeExec =>
          s.metrics.get("numOutputRows").orElse(
            s.metrics.get("shuffleRecordsWritten")).map(_.value)
            .orElse(rowsOf(s.child))
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          rowsOf(r.child) // metrics live on the original exchange
        case t: TakeOrderedAndProjectExec => // emits at most `limit` rows
          Some(math.min(t.limit.toLong,
            rowsOf(t.child).getOrElse(Long.MaxValue)))
        case g: GlobalLimitExec =>
          Some(math.min(g.limit.toLong,
            rowsOf(g.child).getOrElse(Long.MaxValue)))
        case u: UnionExec =>
          val parts = u.children.map(rowsOf)
          if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
        case _ =>
          n.metrics.get("numOutputRows").map(_.value).orElse(n match {
            case u: UnaryExecNode => rowsOf(u.child)
            case _ => None
          })
      }
      rowsOf(p)
    }

    var worst = List.empty[(String, String, Long, String)]
    var nWin, nBcast, nLoop, nHintForced = 0
    val failed = Sweep.run("window-audit") { sweep =>
      val spark = sweep.spark
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      sweep.eachQuery { (name, fn) =>
        val df = fn(spark, sfDir)
        // structural layer: broadcasts below are classified planner-chosen
        // vs hint-forced from the ANALYZED plan (ResolvedHint), not by
        // source regex — the r5 gap that let a hinted val-of-growing-table
        // pass as "planner-chosen". Any hit is a hard flag regardless of
        // measured size (the hint, not today's size, is the scale bug).
        for (v <- ScaleChecks.staticViolations(df)) {
          nHintForced += 1
          worst ::= ((name, "hint/static", -1L, v))
        }
        df.collect()
        val plan = df.queryExecution.executedPlan

        def chainOf(p: SparkPlan): String =
          Iterator.iterate(Option(p)) {
            case Some(u: UnaryExecNode) => Some(u.child)
            case _ => None
          }.takeWhile(_.isDefined).flatten.take(8)
            .map(_.nodeName).mkString(" <- ")

        val wins = plan.collectWithSubqueries {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            (inputRows(w.child), chainOf(w))
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            (inputRows(w.child), chainOf(w))
        }
        val bcasts = plan.collectWithSubqueries {
          case b: BroadcastExchangeExec =>
            (b.metrics.get("numOutputRows").map(_.value)
              .orElse(inputRows(b.child)), chainOf(b))
        }
        // the LOOP side of a nested-loop join: the streamed x built work
        // is bounded iff the SMALLER side is bounded — record min(sides)
        val loops = plan.collectWithSubqueries {
          case j: BroadcastNestedLoopJoinExec =>
            val sides = Seq(inputRows(j.left), inputRows(j.right)).flatten
            (if (sides.size == 2) Some(sides.min) else None, chainOf(j))
          case j: CartesianProductExec =>
            val sides = Seq(inputRows(j.left), inputRows(j.right)).flatten
            (if (sides.size == 2) Some(sides.min) else None, chainOf(j))
        }
        nWin += wins.size; nBcast += bcasts.size; nLoop += loops.size

        // shuffle amplification: total rows written through exchanges vs
        // rows scanned from sources. High ratios flag fan-out before
        // reduction — the shape that saturates the network at scale.
        val shuffled = plan.collectWithSubqueries {
          case s: ShuffleExchangeExec =>
            s.metrics.get("numOutputRows").orElse(
              s.metrics.get("shuffleRecordsWritten")).map(_.value).getOrElse(0L)
        }.sum
        val scanned = plan.collectWithSubqueries {
          case f: FileSourceScanExec =>
            f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case r: RowDataSourceScanExec =>
            r.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum

        // wide-row exchanges: a shuffle carrying the document body, raw
        // JSON, a dense embedding, or binary media pays the row width on
        // every hop — the class of bug the r4 embeddingPairs fix removed.
        // Tokenize/project should consume these map-side.
        val wideCols = Set("text", "props", "embedding", "payload")
        val wide = plan.collectWithSubqueries {
          case s: ShuffleExchangeExec
              if s.output.exists(a => wideCols.contains(a.name) ||
                a.dataType == org.apache.spark.sql.types.BinaryType) =>
            (s.metrics.get("numOutputRows").orElse(
              s.metrics.get("shuffleRecordsWritten")).map(_.value)
              .getOrElse(0L),
             s.output.filter(a => wideCols.contains(a.name) ||
               a.dataType == org.apache.spark.sql.types.BinaryType)
               .map(_.name).mkString("+"))
        }
        val wideMax = if (wide.isEmpty) 0L else wide.map(_._1).max

        // threshold < 0: dump per-query maxima for cross-sf growth
        // comparison — a bounded input must not scale with the data
        if (threshold < 0) {
          def mx(xs: Seq[(Option[Long], String)]) =
            if (xs.isEmpty) 0L else xs.map(_._1.getOrElse(-1L)).max
          println(s"[dump] $name ${mx(wins)} ${mx(bcasts)} ${mx(loops)} " +
            s"$shuffled $scanned $wideMax " +
            wide.sortBy(-_._1).take(2).map(w => s"${w._1}:${w._2}")
              .mkString(",", ",", ""))
        }
        for ((kind, xs) <- Seq(("window", wins), ("broadcast", bcasts),
            ("nestedloop", loops)); (rowsOpt, chain) <- xs) {
          val rows = rowsOpt.getOrElse(-1L)
          if (threshold >= 0 && (rows > threshold || rows < 0))
            worst ::= ((name, kind, rows, chain))
        }
      }.collect { case (name, Left(e)) => s"$name: ${String.valueOf(e).take(120)}" }
    }
    println(s"[audit] audited: $nWin single-partition windows, " +
      s"$nBcast broadcasts, $nLoop nested-loop joins; " +
      s"$nHintForced hint-forced/static scale violations")
    println(s"[audit] over threshold ($threshold rows at $sfDir) " +
      s"or unmeasured: ${worst.size}")
    worst.sortBy(-_._3).foreach { case (q, k, r, n) =>
      println(f"[audit]   $q%-32s $k%-10s $r%10d rows into $n")
    }
    if (failed.nonEmpty) {
      println(s"[audit] FAILED queries: ${failed.size}")
      failed.foreach(f => println(s"[audit]   $f"))
    }
  }
}
