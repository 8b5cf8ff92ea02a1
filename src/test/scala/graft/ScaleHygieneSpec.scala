package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-hygiene guards, two layers:
  *
  * 1. SOURCE layer (fast regex): no explicit broadcast() hint on a
  *    scale-growing table in the query gallery — neither inline
  *    (`broadcast(t(s, dir, "part"))`) nor via a val assigned from one
  *    (`val brands = t(s, dir, "part").select(…); broadcast(brands)` — the
  *    r5 gap that let q281/q299 through). An explicit hint forces the
  *    broadcast at ANY size, overriding the planner's size-based choice —
  *    acceptable only for relations bounded by construction. At the 100 TB
  *    target customer/part/… are billions of rows, and the hint that is
  *    harmless at bench scale becomes a driver OOM. The planner (AQE)
  *    broadcasts them anyway at small scale, so the hint buys nothing.
  *    Regex limits: only vals whose RHS is a row-preserving chain
  *    (select/filter/…) off a growing table are classified growing;
  *    aggregates are legitimately broadcastable and skipped. The same
  *    layer keeps every checkpoint call in main code inside [[Materialize]],
  *    the one place that decides whether checkpoints are fault-tolerant.
  *
  * 2. STRUCTURAL layer ([[ScaleChecks]], planted-violation tests here):
  *    the analyzed-plan walk that Verify and WindowAudit run over every
  *    query — proven red on planted hint-forced broadcasts, unreduced
  *    global windows, and growing x growing cross joins, and green on the
  *    bounded shapes (aggregate broadcast, top-k window, dim broadcast).
  */
class ScaleHygieneSpec extends AnyFunSuite {

  private val growingTables =
    Seq("customer", "part", "supplier", "orders", "lineitem", "events",
      "documents", "embeddings")

  /** Row-preserving Dataset methods: a val whose RHS is only these off a
    * growing table is still O(table rows). Anything else (agg, groupBy,
    * limit, join, distinct, …) drops the val from the growing set —
    * conservative on purpose, and consistent with [[ScaleChecks]] (distinct
    * counts as a reducer: every gallery use is on a projected bounded-domain
    * column; a distinct over a high-cardinality key would slip this layer
    * but is caught by the cross-sf runtime growth audit).
    */
  private val rowPreserving =
    Set("select", "filter", "where", "withColumn", "withColumnRenamed",
      "drop", "as", "alias", "repartition", "sort", "orderBy", "cache",
      "persist")

  private def gallerySources: Seq[(String, String)] = {
    val entryDir = Paths.get("src/main/scala/graft/entry")
    assert(Files.isDirectory(entryDir), s"missing $entryDir (cwd moved?)")
    Using.resource(Files.list(entryDir)) { stream =>
      stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (p.getFileName.toString, new String(Files.readAllBytes(p))))
        .toList
    }
  }

  test("no explicit broadcast hint on scale-growing tables in the gallery") {
    val offenders = gallerySources.flatMap { case (file, src) =>
      growingTables.flatMap { tbl =>
        val pat = ("broadcast\\(\\s*t\\(s, dir, \"" + tbl + "\"").r
        pat.findAllIn(src).map(_ => s"$file: broadcast($tbl)")
      }
    }
    assert(offenders.isEmpty,
      s"explicit broadcast() on scale-growing tables:\n  " +
        offenders.mkString("\n  "))
  }

  test("no broadcast hint on a val derived row-preservingly from a growing " +
    "table") {
    // per block: a query (delimited by the "qNNN_name" -> ((s, dir) => {
    // headers) or a def of EntryShared, so a val name in one block cannot
    // shadow another's. A shared def whose own body is a row-preserving
    // chain off a growing table is growing where a query calls it, as
    // `name(s, dir)`.
    val blockHeader = "\"q\\d+_\\w+\" ->".r
    val sharedDef = "(?m)^  def (\\w+)[^=]*=".r
    val valDef = "val\\s+(\\w+)\\s*=".r
    def split(src: String, starts: List[Int]): List[String] =
      (starts zip (starts.drop(1) :+ src.length)).map {
        case (a, b) => src.substring(a, b)
      }
    // the text after a definition's `=` at `from`, up to the next line
    // indented no deeper than the definition (its next statement)
    def rhsAt(block: String, start: Int, from: Int): String = {
      val indent = start - (block.lastIndexOf('\n', start) + 1)
      val eol = block.indexOf('\n', from)
      val end = if (eol < 0) block.length else
        s"(?m)^ {0,$indent}\\S".r.findFirstMatchIn(block.substring(eol + 1))
          .fold(block.length)(eol + 1 + _.start)
      block.substring(from, end)
    }
    // val name -> RHS text; a shared def's own body is one more entry,
    // under its call text
    def rhss(block: String): List[(String, String)] =
      sharedDef.findPrefixMatchOf(block).toList.map { m =>
        (s"${m.group(1)}(s, dir)", rhsAt(block, m.start + 2, m.end))
      } ++ valDef.findAllMatchIn(block).map { m =>
        (m.group(1), rhsAt(block, m.start, m.end))
      }
    def chainOnlyRowPreserving(rhs: String): Boolean = {
      val calls = "\\.\\s*(\\w+)\\s*\\(".r
        .findAllMatchIn(rhs).map(_.group(1)).toList
      calls.forall(c => rowPreserving.contains(c) ||
        c == "as" || c == "col" || c == "lit")
    }
    // fixpoint: growing if RHS is a row-preserving chain off
    // t(s, dir, "<growing>") or off an already-growing name
    def growingIn(defs: List[(String, String)], seeds: Set[String]): Set[String] = {
      var growing = seeds
      var changed = true
      while (changed) {
        changed = false
        for ((name, rhs) <- defs if !growing.contains(name)) {
          val baseGrowingTable = growingTables.exists(tbl =>
            rhs.trim.startsWith(s"""t(s, dir, "$tbl")"""))
          val baseGrowingVal = growing.exists(g =>
            rhs.trim.startsWith(s"$g.") || rhs.trim == g)
          if ((baseGrowingTable || baseGrowingVal) &&
              chainOnlyRowPreserving(rhs)) {
            growing += name; changed = true
          }
        }
      }
      growing
    }
    val blocks = gallerySources.flatMap { case (file, src) =>
      val header = if (file == "EntryShared.scala") sharedDef else blockHeader
      split(src, header.findAllMatchIn(src).map(_.start).toList)
        .map(b => (file, b))
    }
    assert(blocks.exists(_._1 == "EntryShared.scala"), "no EntryShared defs found")
    var sharedGrowing = Set.empty[String]
    var grew = true
    while (grew) {
      val next = blocks.filter(_._1 == "EntryShared.scala").flatMap { case (_, b) =>
        growingIn(rhss(b), sharedGrowing).filter(_.endsWith("(s, dir)"))
      }.toSet
      grew = next != sharedGrowing
      sharedGrowing = next
    }
    val offenders = blocks.flatMap { case (file, block) =>
      val qname = block.takeWhile(c => c != '-' && c != '(' && c != ':').trim
      // offense only when the hinted expression is the growing name
      // itself or a row-preserving chain off it — broadcast(base.agg(…))
      // is a bounded fold and legitimate
      val growing = growingIn(rhss(block), sharedGrowing)
      growing.toSeq.sorted.flatMap { name =>
        val hint = ("broadcast\\(\\s*" + java.util.regex.Pattern.quote(name) +
          "\\s*([).])\\s*(\\w*)").r
        hint.findAllMatchIn(block).flatMap { m =>
          val offends = m.group(1) == ")" ||
            rowPreserving.contains(m.group(2))
          if (offends) Some(
            s"$file $qname: broadcast($name…) where $name derives " +
              "row-preservingly from a growing table")
          else None
        }
      }
    }
    assert(offenders.isEmpty,
      s"broadcast() hints on growing-derived vals:\n  " +
        offenders.mkString("\n  "))
  }

  /** `file:line: code` of every main-source line outside `allowedFile`
    * whose code (comments blanked) matches `call`.
    */
  private def callsOutside(call: scala.util.matching.Regex,
                           allowedFile: String): List[String] = {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, "no main sources found (cwd moved?)")
    sources
      .filter(_.getFileName.toString != allowedFile)
      .flatMap { p =>
        // blank comments out but keep their newlines, so lines still match
        val code = comment.replaceAllIn(new String(Files.readAllBytes(p)),
          m => "\n" * m.matched.count(_ == '\n'))
        code.linesIterator.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
  }

  test("every checkpoint in main code goes through Materialize") {
    // a direct localCheckpoint/checkpoint call would ignore
    // spark.graft.reliableMaterialize and stay lineage-cutting on a cluster
    val offenders = callsOutside("""localCheckpoint\(|\.checkpoint\(""".r,
      "Materialize.scala")
    assert(offenders.isEmpty,
      s"checkpoint calls outside Materialize:\n  " + offenders.mkString("\n  "))
  }

  test("every timing in main code goes through BenchMetrics.measure") {
    // one timing path: wall and executor CPU are read the same way by
    // Bench and Stress, so their numbers stay comparable
    val offenders = callsOutside("""System\.(nanoTime|currentTimeMillis)""".r,
      "BenchMetrics.scala")
    assert(offenders.isEmpty,
      s"clock reads outside BenchMetrics.measure:\n  " + offenders.mkString("\n  "))
  }

  test("the query gallery never self-declares a bounded broadcast batch") {
    // Only ENGINE operators may tag a broadcast side as contract-bounded
    // (ScaleChecks.BoundedBatchAlias) — each such site carries a scaladoc
    // CONTRACT line and is measured by the cross-sf runtime broadcast
    // audit. A gallery query claiming the tag would bypass the static
    // scale gate with no contract to hold it to.
    val offenders = gallerySources.collect {
      case (file, src) if src.contains("__graft_bounded") => file
    }
    assert(offenders.isEmpty,
      s"gallery files declaring bounded batches: $offenders")
  }

  // ---- structural layer: planted violations must go red ----

  private lazy val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("ScaleChecks flags a planted hint-forced broadcast of a growing " +
    "projection") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    val part = s.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), col("p_brand"))
    val bad = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val v = ScaleChecks.hintForcedGrowingBroadcasts(bad)
    assert(v.exists(_.contains("part")), s"expected planted violation, got $v")
  }

  test("ScaleChecks passes a hint-forced broadcast of an aggregate and of " +
    "a fixed dim") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    val stats = li.agg(sum(col("l_quantity")).as("q"))
    val nation = s.read.parquet(s"$sf/nation.parquet")
    val ok = li.crossJoin(broadcast(stats))
      .join(broadcast(nation), col("l_suppkey") === col("n_nationkey"))
    assert(ScaleChecks.staticViolations(ok).isEmpty)
  }

  test("ScaleChecks flags a planted unreduced global window and passes " +
    "top-k/aggregate windows") {
    import org.apache.spark.sql.expressions.Window
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    assert(ScaleChecks.unboundedShapes(bad)
      .exists(_.contains("single-partition window")))
    // rank<=k rewrites to WindowGroupLimit below the window -> bounded
    val topk = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_extendedprice").desc)))
      .filter(col("rn") <= 10)
    assert(ScaleChecks.unboundedShapes(topk).isEmpty,
      "top-k window should read as bounded (WindowGroupLimit)")
    // window over an aggregate -> bounded
    val aggWin = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"))
      .withColumn("r", row_number().over(Window.orderBy(col("q"))))
    assert(ScaleChecks.unboundedShapes(aggWin).isEmpty)
  }

  test("ScaleChecks flags a planted growing x growing cross join and " +
    "passes stat-fold cross joins") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    val ord = s.read.parquet(s"$sf/orders.parquet")
    val bad = li.crossJoin(ord)
    assert(ScaleChecks.unboundedShapes(bad)
      .exists(_.contains("conditionless join")))
    val ok = li.crossJoin(ord.agg(count(lit(1)).as("n")))
    assert(ScaleChecks.unboundedShapes(ok).isEmpty)
  }

  test("ScaleChecks flags a buffer-all aggregate over an unreduced growing " +
    "input and honors reductions, declarations, and sketches") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    // planted red: exact percentile of a continuous column over raw rows
    val badP = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
    assert(ScaleChecks.bufferAllOverGrowing(badP)
      .exists(_.contains("percentile")), "undeclared percentile should flag")
    // planted red: collect_list over raw rows
    val badC = li.groupBy(col("l_returnflag"))
      .agg(collect_list(col("l_linestatus")).as("cs"))
    assert(ScaleChecks.bufferAllOverGrowing(badC)
      .exists(_.contains("collect_list")), "undeclared collect should flag")
    // median / percentile_cont are RuntimeReplaceable shells around
    // Percentile — the analyzed name must still flag after the optimizer
    // unwraps them (the two-plan confirmation's name mapping)
    val badM = li.groupBy(col("l_returnflag"))
      .agg(expr("median(l_extendedprice)").as("m"))
    assert(ScaleChecks.bufferAllOverGrowing(badM)
      .exists(_.contains("median")), "median should flag through the shell")
    // green: the same aggregate with a bounded-domain declaration
    val declared = ScaleChecks.boundedDomain(li,
        "planted test declaration with a concrete reason")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
    assert(ScaleChecks.bufferAllOverGrowing(declared).isEmpty,
      "a declared bounded domain must pass")
    // green: input reduced by an aggregate below
    val reduced = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .agg(expr("percentile(q, 0.5)").as("m"))
    assert(ScaleChecks.bufferAllOverGrowing(reduced).isEmpty,
      "an aggregate-reduced input must pass")
    // green: a rank<=k filter the OPTIMIZER rewrites to WindowGroupLimit —
    // invisible at analysis time, bounded in the optimized plan (q56 shape)
    import org.apache.spark.sql.expressions.Window
    val topk = li.withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_orderkey"))))
      .filter(col("rn") <= 3)
      .groupBy(col("l_returnflag"))
      .agg(collect_list(col("l_linestatus")).as("cs"))
    assert(ScaleChecks.bufferAllOverGrowing(topk).isEmpty,
      "a rank<=k-bounded collect must pass via the optimized-plan confirm")
    // green: sketches are accuracy-bounded, never buffer-all
    val sketch = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("m"),
        approx_count_distinct(col("l_partkey")).as("d"))
    assert(ScaleChecks.bufferAllOverGrowing(sketch).isEmpty,
      "approx_percentile/HLL must pass")
  }

  test("boundedDomain rejects a vacuous reason") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    assertThrows[IllegalArgumentException] {
      ScaleChecks.boundedDomain(li, "ok")
    }
    assertThrows[IllegalArgumentException] {
      ScaleChecks.boundedDomain(li,
        "a long enough reason with a broken budget", budget = 0L)
    }
  }

  test("bounded-domain alias round-trips its budget; pre-budget aliases " +
    "fall back to the global default") {
    assert(ScaleChecks.parseDomainDecl(
      ScaleChecks.BoundedDomainAlias + "__b4200__some_reason_slug") ==
      (4200L, "some_reason_slug"))
    assert(ScaleChecks.parseDomainDecl(
      ScaleChecks.BoundedDomainAlias + "__legacy_reason_slug") ==
      (ScaleChecks.DefaultDomainBudget, "legacy_reason_slug"))
  }

  test("DomainAudit enforces declared budgets: planted over-budget site " +
    "flags, within-budget site passes, collect gates on rows") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    // red: a FALSE declaration — budget of 3 buffer entries against a
    // column with thousands of distinct values. The budget gate must turn
    // this into a violation instead of a notes-table row.
    val red = ScaleChecks.boundedDomain(li,
        "planted false declaration for the budget red case", budget = 3L)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
    val redM = DomainAudit.measure(s, "planted_red", red)
    assert(redM.nonEmpty && redM.forall(_.overBudget),
      s"an over-budget site must flag: $redM")
    assert(redM.forall(m => m.gatedLoad == m.maxDistinct),
      "the percentile class gates on distinct values (its buffer is a " +
        s"value->count map): $redM")
    // green: the same site under the global default budget
    val green = ScaleChecks.boundedDomain(li,
        "planted true declaration for the budget green case")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
    val greenM = DomainAudit.measure(s, "planted_green", green)
    assert(greenM.nonEmpty && greenM.forall(!_.overBudget),
      s"a within-budget site must pass: $greenM")
    // collect-class buffers hold every ROW (duplicates included), so a
    // tiny distinct domain must not excuse an over-budget row count
    val coll = ScaleChecks.boundedDomain(
        li.select(col("l_returnflag"), col("l_linestatus")),
        "planted collect declaration: tiny distinct, many rows",
        budget = 10L)
      .groupBy(col("l_returnflag"))
      .agg(collect_list(col("l_linestatus")).as("cs"))
    val collM = DomainAudit.measure(s, "planted_collect", coll)
    assert(collM.nonEmpty &&
      collM.forall(m => m.gatedLoad == m.maxRows && m.overBudget),
      s"collect must gate on maxRows and flag here: $collM")
    // collect_set dedups on insert — its buffer is the DISTINCT set, so
    // the same tiny-domain/many-rows shape under the same budget must
    // PASS (gating it on rows would falsely trip every high-duplication
    // correctly-declared site)
    val cset = ScaleChecks.boundedDomain(
        li.select(col("l_returnflag"), col("l_linestatus")),
        "planted collect_set declaration: tiny distinct, many rows",
        budget = 10L)
      .groupBy(col("l_returnflag"))
      .agg(collect_set(col("l_linestatus")).as("cs"))
    val csetM = DomainAudit.measure(s, "planted_collect_set", cset)
    assert(csetM.nonEmpty &&
      csetM.forall(m => m.gatedLoad == m.maxDistinct && !m.overBudget),
      s"collect_set must gate on maxDistinct and pass here: $csetM")
  }

  test("every bounded-domain declaration carries an inline literal reason") {
    // reviewed-site rule: a declaration must state its domain bound inline
    // (a string literal at the call site), so the reason is reviewable in
    // the diff and attributable in the plan. DomainAudit measures whether
    // the declared bound actually holds across scale factors. Scans ALL
    // of src/main (gallery AND engine — Dedup.dedupLines declares too),
    // not just the entry dir.
    val callPat = "boundedDomain\\(".r
    var nDecls = 0
    val mainRoot = Paths.get("src/main/scala/graft")
    val sources = Using.resource(Files.walk(mainRoot)) { stream =>
      stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (p.toString, new String(Files.readAllBytes(p))))
        .toList
    }
    val offenders = sources.flatMap { case (file, src) =>
      if (file.endsWith("ScaleChecks.scala")) Nil // the definition itself
      else callPat.findAllMatchIn(src).flatMap { m =>
        nDecls += 1
        // the literal reason must appear within the call's argument text
        val rest = src.substring(m.end, math.min(src.length, m.end + 800))
        val hasLiteral = "\"[^\"]{16,}\"".r.findFirstIn(rest).isDefined
        if (hasLiteral) None else Some(s"$file @${m.start}")
      }
    }
    assert(offenders.isEmpty,
      s"declarations without an inline literal reason:\n  " +
        offenders.mkString("\n  "))
    assert(nDecls >= 9, s"expected the reviewed declarations, found $nDecls")
  }

  test("ScaleChecks flags a distinct aggregate with a buffer-heavy sibling " +
    "and passes cheap siblings / pre-deduplicated forms") {
    val li = s.read.parquet(s"$sf/lineitem.parquet")
    // the q66 pathology: HLL sibling evaluated per distinct key
    val bad = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"),
        approx_count_distinct(col("l_partkey")).as("ap"))
    assert(ScaleChecks.distinctRewriteHeavySibling(bad)
      .exists(_.contains("per distinct key")), "HLL sibling should flag")
    // cheap declarative siblings are the standard distinct-rewrite plan
    val okCheap = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"),
        sum(col("l_quantity")).as("q"), avg(col("l_discount")).as("a"))
    assert(ScaleChecks.distinctRewriteHeavySibling(okCheap).isEmpty)
    // the fix shape: dedup first, then count + sketch — no distinct agg left
    val okSplit = li.groupBy(col("l_returnflag"), col("l_partkey"))
      .agg(count(lit(1)))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("d"), approx_count_distinct(col("l_partkey")).as("ap"))
    assert(ScaleChecks.distinctRewriteHeavySibling(okSplit).isEmpty)
  }
}
