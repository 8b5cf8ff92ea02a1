package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnShim, DatasetShim}

/** Runtime ENFORCEMENT of every [[ScaleChecks.boundedDomain]] declaration:
  * for each analyzed-plan aggregate that (a) contains a buffer-all function
  * (percentile / collect / mode class) and (b) sits above a bounded-domain
  * declaration, this audit evaluates the aggregate's INPUT subtree,
  * measures the actual per-group buffer load, and compares it against the
  * declaration's machine-readable budget —
  *
  *   - maxDistinct: max over groups of distinct input values (the
  *     percentile/mode buffer is a value→count map, so this IS its entry
  *     count);
  *   - maxRows: max over groups of input rows (the collect_list buffer
  *     holds every value, duplicates included).
  *
  * The gating metric matches the buffer semantics: collect-class functions
  * gate on maxRows, the percentile/mode class on maxDistinct. A site whose
  * measured load exceeds the tightest budget among its declarations makes
  * the audit EXIT 2 — a false-at-scale declaration is a red round, not a
  * notes-table row a reviewer has to notice. Run at two scale factors and
  * compare: a TRUE declaration reads flat or saturating; a FALSE one
  * tracks the data (the same closure [[WindowAudit]] gives the
  * BoundedBatchAlias declarations via broadcast-size growth).
  *
  * Usage: runMain graft.DomainAudit [sfDir] (`SPARK_GRAFT_ONLY` picks
  * queries)
  * Output: one `[domain]` line per (query, declared site, function) per
  * declaration; `[domain-violation]` lines and exit 2 on any over-budget
  * site; a query that fails to plan/measure also exits 2 (a site that
  * never measured must not read as a pass).
  */
object DomainAudit {

  /** One measured (aggregate site, buffer-all function) pair: the actual
    * per-group load, every declaration guarding it (budget + reason slug),
    * and the budget verdict against the tightest budget.
    */
  final case class SiteMeasure(query: String, site: Int, fn: String,
                               groups: Long, maxDistinct: Long, maxRows: Long,
                               decls: Seq[(Long, String)]) {
    /** collect_list/listagg buffers hold every row; collect_set holds one
      * entry per DISTINCT value (Spark dedups on insert), so gating it on
      * maxRows would falsely trip the budget on a high-duplication input;
      * the percentile/mode class buffers a value→count map, also one entry
      * per distinct value.
      */
    def gatedLoad: Long =
      if (fn == "collect_set") maxDistinct
      else if (fn.startsWith("collect_") || fn == "listagg") maxRows
      else maxDistinct
    def budget: Long = decls.map(_._1).min
    def overBudget: Boolean = gatedLoad > budget
  }

  /** Declarations on the UNREDUCED path below `p` — the walk stops at the
    * same reducing nodes as the static check's growing-leaf walk, so a
    * declaration belonging to a DEEPER aggregate's input is never
    * attributed to an outer aggregate whose own input is already reduced
    * (that outer site isn't check-5-relevant, and measuring its reduced
    * input under the inner declaration's label would dilute exactly the
    * false-declaration-shows-up-as-growth adjudication).
    */
  private def declarationsOnUnreducedPath(p: LogicalPlan): Seq[String] =
    p match {
      case _: Aggregate | _: Distinct | _: Deduplicate | _: GlobalLimit |
           _: LocalLimit | _: WindowGroupLimit => Nil
      case sa: SubqueryAlias
          if sa.alias.startsWith(ScaleChecks.BoundedDomainAlias) =>
        Seq(sa.alias)
      case other => other.children.flatMap(declarationsOnUnreducedPath)
    }

  /** Measure every declared buffer-all site in `df`'s analyzed plan.
    * Pure measurement — the caller decides what a violation means (main
    * exits 2; the spec plants red/green cases against this directly).
    */
  def measure(spark: SparkSession, query: String,
              df: DataFrame): Seq[SiteMeasure] = {
    val sites = df.queryExecution.analyzed.collect {
      case a: Aggregate =>
        val heavies = a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression
              if ScaleChecks.bufferAll(ae.aggregateFunction) =>
            ae.aggregateFunction
        })
        val decls = declarationsOnUnreducedPath(a.child)
        if (heavies.nonEmpty && decls.nonEmpty) Seq((a, heavies, decls))
        else Nil
    }.flatten
      // the same declared aggregate can appear many times in a DAG-
      // shaped plan (iterative queries re-embed their seed subtree) —
      // measure each distinct site once
      .distinctBy { case (a, heavies, _) =>
        (a.canonicalized, heavies.map(_.prettyName)) }
    sites.zipWithIndex.flatMap { case ((a, heavies, declAliases), i) =>
      val child = DatasetShim.ofRows(spark, a.child)
      val grp = a.groupingExpressions.map(ColumnShim.column)
      val decls = declAliases.map(ScaleChecks.parseDomainDecl)
      heavies.distinctBy(_.prettyName).map { h =>
        val in = ColumnShim.column(h.children.head)
        // EXACT distinct via a two-level aggregate, not
        // approx_count_distinct: this measurement GATES against budgets,
        // and an HLL ±5% read against a tight budget (q196: 4,671
        // measured vs 5,200) could flip red/green on a fixture regen.
        // The audit runs offline, so the extra (group, value) shuffle is
        // the right price for a deterministic verdict. NULL inputs are
        // excluded, matching the buffer (aggregates skip null inputs).
        val grpAliased = grp.zipWithIndex.map { case (c, gi) =>
          c.as(s"__g$gi") }
        val grpNames = grp.indices.map(gi => col(s"__g$gi"))
        val lvl1 = child.filter(in.isNotNull)
          .groupBy(grpAliased :+ in.as("__val"): _*)
          .agg(count(lit(1)).as("__c"))
        val per =
          (if (grpNames.isEmpty) lvl1.groupBy()
           else lvl1.groupBy(grpNames: _*))
            .agg(count(lit(1)).as("__d"),
              coalesce(sum(col("__c")), lit(0L)).as("__n"))
        // coalesce: an all-NULL (or empty) input measures as zero load,
        // not as a null that would NPE the read-back
        val r = per.agg(coalesce(max(col("__d")), lit(0L)),
          coalesce(max(col("__n")), lit(0L)), count(lit(1))).head()
        SiteMeasure(query, i, h.prettyName, r.getLong(2), r.getLong(0),
          r.getLong(1), decls)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    var measured = 0
    val violations = scala.collection.mutable.ArrayBuffer.empty[SiteMeasure]
    val failed = Sweep.run("domain-audit") { sweep =>
      val spark = sweep.spark
      sweep.eachQuery { (name, fn) =>
        val df = fn(spark, sfDir)
        measure(spark, name, df).foreach { m =>
          measured += 1
          // one line per declaration so a multi-declaration site never
          // attributes growth to the wrong reason during adjudication
          m.decls.foreach { case (budget, slug) =>
            println(s"[domain] ${m.query} site=${m.site} fn=${m.fn} " +
              s"groups=${m.groups} maxDistinct=${m.maxDistinct} " +
              s"maxRows=${m.maxRows} budget=$budget decl=${slug.take(56)}")
          }
          if (m.overBudget) {
            violations += m
            println(s"[domain-violation] ${m.query} site=${m.site} " +
              s"fn=${m.fn} gated=${m.gatedLoad} budget=${m.budget} — " +
              "measured per-group buffer exceeds the declared budget; " +
              "the declaration is false at this scale (reduce the input, " +
              "switch to the two-phase exact path, or re-argue the bound)")
          }
        }
      }.count(_._2.isLeft)
    }
    println(s"[domain] measured $measured declared buffer-all sites at " +
      s"$sfDir; ${violations.size} over budget; $failed queries failed")
    if (violations.nonEmpty || failed > 0) sys.exit(2)
  }
}
