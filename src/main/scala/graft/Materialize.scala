package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place that decides how a DataFrame is checkpointed. Every
  * checkpoint in the engine goes through one of two forms:
  *
  *  - `df.materialize` (LAZY) for straight-line multi-consumer
  *    intermediates on the query paths: `localCheckpoint(false)`. Raw-row
  *    storage beats the InMemoryRelation columnar cache 3-30x CPU on these
  *    narrow intermediates (round-9 interleaved A/Bs), and laziness keeps
  *    the materialization inside the first consumer job instead of adding
  *    a serial barrier.
  *  - `df.materializeEager` for iterative loops (graph rounds, connected
  *    components, CELF, BPE merges, the gallery's fixed-point queries):
  *    `localCheckpoint(true)`, which truncates the plan each round so
  *    analysis time stays flat at any iteration count.
  *
  * The trade-off is fault tolerance: local checkpoints truncate lineage,
  * so on a cluster a lost executor fails the query instead of recomputing.
  * A cluster deployment flips ONE switch —
  * `spark.graft.reliableMaterialize=true` (plus a checkpoint dir on a
  * fault-tolerant filesystem: `sparkContext.setCheckpointDir`, or
  * `spark.checkpoint.dir` set at launch, which Spark applies when the
  * context starts) — and
  * both forms become an eager reliable `checkpoint(true)`. Reliable
  * checkpoints must be eager: a lazy reliable checkpoint still recomputes
  * the frame once per consumer until something forces it, which is exactly
  * the duplicated work these sites exist to prevent. [[GraftSession]]'s
  * builder sets `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
  * so reliable checkpoint files are deleted once their frame is
  * unreachable (local checkpoints are plain cached blocks and unaffected).
  */
object Materialize {
  val ConfKey = "spark.graft.reliableMaterialize"

  /** `spark.graft.explainMaterialize=true` prints each lazy materialize
    * site's INPUT physical plan before the checkpoint truncates it — plan
    * audits (Plans/`plans/rN/` dumps) otherwise see only a
    * `Scan ExistingRDD` stub for the materialized subtree (round-9
    * verdict, "What's wrong" #4). Debug-only; never set on a timed path.
    */
  val ExplainKey = "spark.graft.explainMaterialize"

  /** True when the session asks for fault-tolerant checkpoints. */
  def reliable(s: SparkSession): Boolean =
    s.conf.getOption(ConfKey).exists(_.equalsIgnoreCase("true"))

  def apply(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption(ExplainKey).exists(_.equalsIgnoreCase("true"))) {
      println(s"---- materialize site input plan " +
        s"(cols: ${df.columns.mkString(", ")}) ----")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    checkpoint(df, eager = false)
  }

  def eager(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    if (reliable(s)) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        s"$ConfKey=true requires sparkContext.setCheckpointDir on a " +
          "fault-tolerant filesystem (or spark.checkpoint.dir set at launch)")
      df.checkpoint(true)
    } else df.localCheckpoint(eager)
  }

  /** Postfix forms so call sites read like the `localCheckpoint` calls
    * they replace.
    */
  implicit final class Ops(private val df: DataFrame) extends AnyVal {
    def materialize: DataFrame = Materialize(df)
    def materializeEager: DataFrame = Materialize.eager(df)
  }
}
