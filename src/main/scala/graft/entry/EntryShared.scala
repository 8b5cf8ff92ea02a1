package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF}

/** Shared fixtures for the [[SparkEntry]] query parts: table
  * readers, per-JVM scratch dirs, the near-dup corpus, the derived
  * tables several queries build, and the SQL fragments used verbatim by
  * both engines.
  */
private[graft] object EntryShared {

  /** Typed row for the A20 typed-source round trip (q75). */
  final case class SupplierTyped(s_suppkey: Long, s_name: String,
                                 s_nationkey: Int, s_acctbal: Double)

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private lazy val scratchRoot = Sweep.tempDirUntilExit("graft-scratch")

  /** Per-query scratch dir for queries that stage external write locations;
    * wiped and recreated on every call so the queries stay idempotent
    * across Verify/Bench repeats. Every one lives under a root of this JVM
    * that is deleted at its exit, so no two JVMs share one.
    */
  def scratchDir(name: String): String = {
    val dir = scratchRoot.resolve(name).toFile
    org.apache.spark.network.util.JavaUtils.deleteRecursively(dir)
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** events with `ts` normalized to TimestampType, whatever the generator
    * emitted: TIMESTAMP(NANOS) reads as a nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong` (`div 1000` integral keeps
    * microsecond precision exactly); TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * reads as TIMESTAMP_NTZ and is cast in the UTC session.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestamp[us] with isAdjustedToUTC=false reads as NTZ; the session
        // time zone is UTC, so the cast to TimestampType preserves the wall
        // clock and unix_micros matches DuckDB's epoch_us on the same file.
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** documents ∪ mutated near-duplicate copies (id+100000, first 20 chars
    * dropped) — the deterministic corpus used by the near-dup queries so
    * they provably emit pairs even on an all-distinct source table.
    */
  def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.union(d.select(col("doc_id") + 100000L, expr("substring(text, 21)")))
  }

  // --- Derived tables that several queries build the same way ----------

  /** Each user's events in time order (event_id breaks ties). */
  val byUser: WindowSpec = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** Running frame over `dur`, from the first row to the current one. */
  val durRunning: WindowSpec = Window.orderBy(col("dur"))
    .rowsBetween(Window.unboundedPreceding, 0)

  /** One row per customer: `dur`, the days from first to last order, and
    * `event`, churn: the last order is more than 90 days before the last
    * order date of the corpus.
    */
  def survivalCohort(s: SparkSession, dir: String): DataFrame = {
    val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first"),
        max(col("o_orderdate")).as("last"))
      .crossJoin(broadcast(maxD))
      .select(datediff(col("last"), col("first")).cast("long").as("dur"),
        (datediff(col("mx"), col("last")) > 90).as("event"))
  }

  /** [[survivalCohort]] plus `big`: the customer's last order (latest
    * date, then highest key) is priced at 150,000 or more.
    */
  def survivalCohortBySize(s: SparkSession, dir: String): DataFrame = {
    val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
    val lastOrd = t(s, dir, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_totalprice").as("last_price"))
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first"),
        max(col("o_orderdate")).as("last"))
      .crossJoin(broadcast(maxD))
      .join(lastOrd, Seq("o_custkey"))
      .select(datediff(col("last"), col("first")).cast("long").as("dur"),
        (datediff(col("mx"), col("last")) > 90).as("event"),
        (col("last_price") >= 150000.0).as("big"))
  }

  /** Events per calendar day: `d`, and the count `y` as a double. */
  def dailyEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))

  /** Purchases per calendar day (`d`, count `y` as a double) and `x`, a
    * weekend flag (1.0 on Saturday and Sunday).
    */
  def dailyPurchases(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("x",
        when(dayofweek(col("d")).isin(1, 7), 1.0).otherwise(0.0))

  /** Event-type transitions: how often a user's event of type `src` is
    * followed by one of type `dst` (`c`, a double), in [[byUser]] order.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("dst"))
      .withColumn("src", lag(col("dst"), 1).over(byUser))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("c"))

  /** Each event's user, id, time and `item` (the `k` of its JSON props). */
  def userItemEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))

  /** Item-to-item transitions: [[userItemEvents]] with the user's previous
    * item as `src` (repeats dropped) and `day`, days since the first event
    * of the corpus.
    */
  def itemTransitionsByDay(s: SparkSession, dir: String): DataFrame = {
    val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
    events(s, dir).crossJoin(broadcast(d0))
      .select(col("user_id"), col("event_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        datediff(to_date(col("ts")), col("d0")).as("day"))
      .withColumn("src", lag(col("item"), 1).over(byUser))
      .filter(col("src").isNotNull && col("src") =!= col("item"))
  }

  /** Each customer's order total in exact integer cents (`cents`). */
  def customerOrderCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("cents"))

  /** Each customer's order count (`cnt`). */
  def customerOrderCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))

  /** Each customer's order total in cents per year (`yr`), 1995 and 1996. */
  def customerYearCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("cents"))

  /** Every 1995 and 1996 order as its year `yr` and cents `v`. */
  def orderCentsByYear(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))

  /** Order revenue per order date `d`, summed in cents, as a double `rev`. */
  def dailyOrderRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("double").as("rev"))

  /** Order revenue per `day` in integer cents (`cents`). */
  def dailyOrderCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS " +
        "BIGINT)) AS BIGINT)").as("cents"))

  /** Daily order revenue `y` in dollars against `tt`, days since
    * 1992-01-01.
    */
  def dailyRevenueTrend(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(floor(col("o_totalprice") * 100 + 0.5)) / 100.0)
        .cast("double").as("y"))
      .select(datediff(col("day"), lit("1992-01-01")).cast("double")
        .as("tt"), col("y"))

  /** Each order's line total in cents (price after discount and tax)
    * minus its stated total in cents, as `diff`.
    */
  def orderTotalDiffs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(floor(l_extendedprice * (1 - l_discount) * " +
        "(1 + l_tax) * 100 + 0.5) AS BIGINT)")).as("calc"))
      .join(t(s, dir, "orders").select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("stated")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("calc") - col("stated")).as("diff"))

  /** Per brand: revenue in cents `rev`, quantity `qty` and distinct
    * orders `ords`.
    */
  def brandRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(expr(
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .as("rev"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("l_orderkey")).as("ords"))

  /** Each customer's key `ck` and balance in cents `v`. */
  def customerBalanceCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey").as("ck"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))

  /** Balances in cents `v` of the customers in ASIA and EUROPE, with
    * `is_a` true for ASIA.
    */
  def asiaEuropeBalances(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .select(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
        .as("v"), (col("r_name") === "ASIA").as("is_a"))

  /** Per market segment `sg`: customer count `ng` and the first two
    * moments of the balance in cents, `sg1` and `sg2`.
    */
  def segmentBalanceMoments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_mktsegment").as("sg"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
      .groupBy(col("sg"))
      .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg1"),
        sum(col("v") * col("v")).as("sg2"))

  /** Each supplier `sk` at deterministic pseudo-random coordinates `x`,
    * `y` in [0, 1,000,000).
    */
  def supplierPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select(col("s_suppkey").as("sk"),
        pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L)).as("x"),
        pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L)).as("y"))

  /** `embeddings` with the vector as an array of doubles. */
  def embeddingsAsDouble(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))

  /** The three literal search queries (`query_id`, `query_text`) of the
    * BM25 gallery; [[bm25OracleSql]] callers pass the same VALUES.
    */
  def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "spark window agg"),
      (2L, "vector scan batch"),
      (3L, "customer stream query")).toDF("query_id", "query_text")
  }


  /** One SQL text, two engines — q130 runs it verbatim in Spark and the
    * oracle runs it verbatim in DuckDB (explicit NULLS FIRST because the
    * engines' default null sort order differs).
    */
  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST,
      |  l_linestatus ASC NULLS FIRST""".stripMargin

  /** TPC-H Q17-shape correlated SCALAR subquery (identical text on both
    * engines; Catalyst decorrelates it into an aggregate + join — see
    * PLANS_r3). l_quantity is integral, so each group's avg is exact in
    * double on any engine and the `<` cut can't sit on a float boundary.
    */
  /** q171: identical ANSI text on both engines — the ranking-window
    * gallery (dense_rank / cume_dist over a TIES-heavy order key, both
    * well-defined under ties; nth_value over an explicit full frame with
    * a total order). Completes window coverage next to row_number/rank
    * (q08/q09), RANGE frames (q104), IGNORE NULLS last_value (q96).
    */
  val windowGallerySql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(dense_rank() OVER wp AS BIGINT) AS priority_rank,
      |  round(cume_dist() OVER wp, 6) AS priority_cume,
      |  nth_value(o_orderkey, 2) OVER wf AS second_order_key
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW
      |  wp AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** q449: identical ANSI text on both engines — correlated LATERAL
    * subquery with ORDER BY + LIMIT (per-nation top-2 orders), the
    * modern SQL top-k-per-group form next to q146's correlated scalar
    * and q147's EXISTS chain.
    */
  val lateralTopkSql: String =
    """SELECT n.n_name, t.o_orderkey, t.price
      |FROM nation n, LATERAL (
      |  SELECT o.o_orderkey AS o_orderkey,
      |    round(o.o_totalprice, 2) AS price
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY o.o_totalprice DESC, o.o_orderkey
      |  LIMIT 2) t
      |ORDER BY n.n_name, t.price DESC, t.o_orderkey""".stripMargin

  val correlatedScalarSql: String =
    """SELECT p.p_brand,
      |  round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly,
      |  count(*) AS n_small
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < (
      |  SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      |  WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  /** TPC-H Q21-shape EXISTS / NOT EXISTS chain (sole-blame supplier per
    * returned order), reformulated on the columns this fixture carries
    * (returnflag instead of receipt lateness). Identical text on both
    * engines; Catalyst turns the pair into semi/anti joins.
    */
  val existsChainSql: String =
    """SELECT s.s_name, count(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name
      |LIMIT 20""".stripMargin

  // --- DuckDB oracles ------------------------------------------------------

  def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** Shared doc-normalization SQL fragments (must mirror TextFunctions). */
  val toksSql  = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
  val ntoksSql = """list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), x -> len(x) > 0)"""

  /** CTE chain ending in `pairs(idA, idB, jaccard)` — the n-gram Jaccard
    * near-dup pair graph over docsWithNearDups (must mirror
    * Dedup.ngramJaccardPairs with n=3, threshold 0.3, maxShingleFreq 400).
    * Shared by q25 (the pair list) and q65 (connected components over it).
    */
  val ngramPairsCtes: String =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, substr(text, 21) FROM documents),
       |norm AS (SELECT doc_id, $ntoksSql AS ntoks FROM docs),
       |grams AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(ntoks) < 3 THEN []
       |      ELSE list_transform(range(len(ntoks) - 2),
       |             i -> ntoks[i+1] || ' ' || ntoks[i+2] || ' ' || ntoks[i+3]) END) AS gs
       |  FROM norm),
       |posting AS (SELECT doc_id, unnest(gs) AS g FROM grams),
       |rare AS (SELECT g FROM (SELECT g, count(*) AS c FROM posting GROUP BY g)
       |         WHERE c BETWEEN 2 AND 400),
       |rp AS (SELECT p.doc_id, p.g FROM posting p JOIN rare USING (g)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM rp GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS i
       |          FROM rp a JOIN rp b USING (g) WHERE a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (
       |  SELECT idA, idB, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON idA = sa.doc_id
       |  JOIN sizes sb ON idB = sb.doc_id
       |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.3)""".stripMargin

  /** CTE chain `b -> m -> q` computing the per-doc quality score (must
    * mirror TextFunctions.qualityScore exactly, same op order — the q21
    * oracle proves parity to 6 dp). `q` exposes (doc_id{extraCols}, ntok,
    * quality).
    */
  def qualityCteSql(extraCols: String,
                            source: String = "documents"): String =
    s"""WITH b AS (
       |  SELECT doc_id$extraCols, text, $toksSql AS toks, $ntoksSql AS ntoks FROM $source),
       |m AS (
       |  SELECT doc_id$extraCols,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text) END AS pr,
       |    CASE WHEN len(ntoks) = 0 THEN 0.0
       |         ELSE len(list_filter(ntoks, x -> list_contains(${sqlList(TF.StopwordsEn)}, x))) * 1.0 / len(ntoks) END AS sw,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks) END AS mtl,
       |    length(text) AS n, len(toks) AS ntok
       |  FROM b),
       |q AS (
       |  SELECT doc_id$extraCols, ntok,
       |    least(sw * 4.0, 1.0) * 0.4 + greatest(1.0 - pr * 4.0, 0.0) * 0.3
       |    + (CASE WHEN n BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.15
       |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.25 END) * 0.15 AS quality
       |  FROM m)""".stripMargin

  /** Full BM25 recompute in DuckDB over `documents` for a literal VALUES
    * query set — shared by q94 (ad-hoc) and q116 (served through the
    * persisted index; scoring must be layout-independent).
    */
  /** BM25 CTE chain ending at `ranked(query_id, doc_id, score_micro,
    * rank)` — shared by the bm25 oracles and the hybrid-RRF oracle.
    */
  def bm25Ctes(queryValues: String): String =
    s"""q(query_id, query_text) AS (VALUES $queryValues),
       |tk AS (SELECT doc_id, term FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
       |    FROM documents) WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
       |post AS (SELECT term, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2),
       |stats AS (SELECT (SELECT count(DISTINCT doc_id) FROM tk) AS n_docs,
       |                 (SELECT count(*) FROM tk) AS total_toks),
       |qt AS (SELECT DISTINCT query_id, term FROM (
       |    SELECT query_id,
       |      unnest(string_split_regex(lower(query_text), '[^a-z0-9]+')) AS term
       |    FROM q) WHERE term <> ''),
       |dfreq AS (SELECT term, count(*) AS df FROM post
       |          WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |contrib AS (
       |  SELECT qt.query_id, p.doc_id,
       |    CAST(round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |      ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * ((1.0 - 0.75) +
       |        (0.75 * dl.dl) / ((s.total_toks * 1.0) / (s.n_docs * 1.0)))))
       |      * 1000000.0, 0) AS BIGINT) AS micro
       |  FROM post p
       |  JOIN qt ON p.term = qt.term
       |  JOIN dfreq d ON p.term = d.term
       |  JOIN dl ON p.doc_id = dl.doc_id
       |  CROSS JOIN stats s),
       |scored AS (SELECT query_id, doc_id, sum(micro) AS score_micro
       |           FROM contrib GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, score_micro,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id) AS rank FROM scored)""".stripMargin

  def bm25OracleSql(queryValues: String): String =
    s"""WITH ${bm25Ctes(queryValues)}
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  score_micro / 1000000.0 AS score, rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** One unrolled logistic-GD epoch for the q138/q144 oracles: gradient
    * g`i` under weights w`i-1`, update w`i`. Mirrors
    * LinearModel.logisticGd's epoch exactly (lr 0.5, gradient / n).
    */
  def lrStepSql(i: Int): String = {
    val prev = s"w${i - 1}_"
    val sig = "1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3)))"
    val grads = (0 to 3)
      .map(j => s"    sum(($sig - y)*f$j)/count(*) AS g$j").mkString(",\n")
    val upds = (0 to 3).map(j => s"w.w$j - 0.5*g.g$j AS w$j").mkString(", ")
    s"g${i}_ AS (SELECT\n$grads\n  FROM feat, $prev w),\n" +
      s"w${i}_ AS (SELECT $upds FROM $prev w, g${i}_ g)"
  }

  /** Shared q138/q144 CTE chain: the classifier feature frame, 3 unrolled
    * GD epochs, and the final per-row scores. Must mirror
    * [[classifierFeatures]] + LinearModel exactly.
    */
  val lrCtes: String =
    s"""feat AS (SELECT 1.0 AS f0,
       |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
       |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
       |      / CAST(len(text) AS DOUBLE) AS f2,
       |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
       |      / CAST(len(text) AS DOUBLE) AS f3,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${(1 to 3).map(lrStepSql).mkString(",\n")},
       |scored AS (SELECT y,
       |    1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))) AS p
       |  FROM feat, w3_ w)""".stripMargin

  /** One unrolled PageRank iteration for the q134 oracle: p`cur` from
    * p`prev`. The dangling-mass subquery and the incoming-contribution
    * aggregate mirror Graph.pageRank's round exactly.
    */
  def prIterSql(cur: Int, prev: Int): String =
    s"""p$cur AS (
       |  SELECT n.node,
       |    (1 - 0.85) / nn.n + 0.85 * (COALESCE(inc.s, 0) + dang.m / nn.n) AS pr
       |  FROM nodes n
       |  CROSS JOIN nn
       |  CROSS JOIN (SELECT COALESCE(sum(p.pr), 0) AS m FROM p$prev p
       |              LEFT JOIN outw o ON p.node = o.src WHERE o.src IS NULL) dang
       |  LEFT JOIN (SELECT c.dst AS node, sum(c.frac * p.pr) AS s
       |             FROM contrib c JOIN p$prev p ON c.src = p.node
       |             GROUP BY c.dst) inc ON inc.node = n.node)""".stripMargin

  /** The q138/q144 classifier's feature frame: engine-portable per-doc
    * numerics (bias, scaled length, space ratio, digit ratio) + the
    * lang=='en' label. Shared so the calibration query bins EXACTLY the
    * model the training query learned.
    */
  def classifierFeatures(s: SparkSession, dir: String)
      : (DataFrame, Seq[String]) = {
    val len = length(col("text")).cast("double")
    val feat = t(s, dir, "documents").select(
      lit(1.0).as("f_bias"),
      (len / 100.0).as("f_len"),
      ((len - length(regexp_replace(col("text"), " ", "")).cast("double")) / len)
        .as("f_space"),
      ((len - length(regexp_replace(col("text"), "[0-9]", "")).cast("double")) / len)
        .as("f_digit"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    (feat, Seq("f_bias", "f_len", "f_space", "f_digit"))
  }

  /** [[classifierFeatures]] and the weights that 3 logistic-GD steps at
    * lr 0.5 learn on them, the model every classifier query scores.
    */
  def classifierModel(s: SparkSession, dir: String)
      : (DataFrame, Seq[String], Array[Double]) = {
    val (feat, cols) = classifierFeatures(s, dir)
    (feat, cols, LinearModel.logisticGd(feat, cols, "y", lr = 0.5, nIter = 3))
  }

  /** One unrolled greedy max-cover round for the q139 oracle: gains over
    * tokens not yet in c`i-1`, argmax w`i` (ties -> smaller id), covered
    * set c`i`. Mirrors Selection.greedyMaxCover's round exactly.
    */
  def coverRoundSql(i: Int): String =
    if (i == 1)
      """r1 AS (SELECT id, count(*) AS gain FROM terms GROUP BY id),
        |w1 AS (SELECT id, gain FROM r1 ORDER BY gain DESC, id LIMIT 1),
        |c1 AS (SELECT DISTINCT t.item FROM terms t JOIN w1 ON t.id = w1.id)"""
        .stripMargin
    else
      s"""r$i AS (SELECT t.id, count(*) AS gain FROM terms t
         |  LEFT JOIN c${i - 1} c ON t.item = c.item
         |  WHERE c.item IS NULL GROUP BY t.id),
         |w$i AS (SELECT id, gain FROM r$i ORDER BY gain DESC, id LIMIT 1),
         |c$i AS (SELECT item FROM c${i - 1} UNION
         |        SELECT t.item FROM terms t JOIN w$i ON t.id = w$i.id)"""
        .stripMargin

  /** All 20 ordered-pair win-count column names of the q415 Bradley-Terry
    * wide row (types indexed alphabetically: click, error, purchase,
    * signup, view).
    */
  val btWcols: String = (for {
    i <- 0 to 4; j <- 0 to 4 if i != j
  } yield s"w_${i}_$j").mkString(", ")

  /** One unrolled Bradley-Terry MM iteration for the q415 oracle:
    * q`i` from p`i-1` (per-item W / Σ n/(p_i+p_j)), then per-round
    * normalization. Mirrors the engine's fold exactly.
    */
  def btStepSql(i: Int): String = {
    val qs = (0 to 4).map { a =>
      val wi = (0 to 4).filter(_ != a).map(j => s"w_${a}_$j")
        .mkString(" + ")
      val denom = (0 to 4).filter(_ != a).map(j =>
        s"CAST(w_${a}_$j + w_${j}_$a AS DOUBLE) / (p$a + p$j)")
        .mkString(" + ")
      s"CAST($wi AS DOUBLE) / ($denom) AS q$a"
    }.mkString(",\n    ")
    s"""btq${i}_ AS (SELECT *,
       |    $qs
       |  FROM bt${i - 1}_),
       |bt${i}_ AS (SELECT $btWcols,
       |    ${(0 to 4).map(a => s"q$a / (q0 + q1 + q2 + q3 + q4) AS p$a")
         .mkString(", ")}
       |  FROM btq${i}_)""".stripMargin
  }

  /** One unrolled EM iteration for the q416 oracle: responsibilities
    * under em`i-1`'s params (normal constant cancelled), moment sums,
    * new params (component 2 from complements). Mirrors the engine's
    * fold exactly.
    */
  def emStepSql(i: Int): String =
    s"""em${i}r AS (SELECT x,
       |    pi1 * exp(-(x - mu1) * (x - mu1) / (2.0 * s1 * s1)) / s1 AS f1,
       |    (1.0 - pi1) * exp(-(x - mu2) * (x - mu2) / (2.0 * s2 * s2))
       |      / s2 AS f2
       |  FROM xs CROSS JOIN em${i - 1}_),
       |em${i}g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    sum(f1 / (f1 + f2)) AS s0, sum(f1 / (f1 + f2) * x) AS s1x,
       |    sum(f1 / (f1 + f2) * x * x) AS s2x,
       |    sum(x) AS sx, sum(x * x) AS sxx
       |  FROM em${i}r),
       |em${i}_ AS (SELECT s0 / n AS pi1, s1x / s0 AS mu1,
       |    sqrt(s2x / s0 - (s1x / s0) * (s1x / s0)) AS s1,
       |    (sx - s1x) / (n - s0) AS mu2,
       |    sqrt((sxx - s2x) / (n - s0) -
       |      ((sx - s1x) / (n - s0)) * ((sx - s1x) / (n - s0))) AS s2
       |  FROM em${i}g)""".stripMargin

  /** One unrolled Cox-PH Newton step for the q419 oracle: score U and
    * information I under cox`i-1`'s beta over the `evt` duration table,
    * then beta update. Mirrors the engine's fold exactly (Breslow ties,
    * binary covariate).
    */
  def coxStepSql(i: Int): String =
    s"""cox${i}u AS (SELECT min(b) AS b,
       |    sum(d1 - (d0 + d1) * n1 * exp(b) / (n0 + n1 * exp(b))) AS u,
       |    sum((d0 + d1) * n0 * n1 * exp(b) /
       |      ((n0 + n1 * exp(b)) * (n0 + n1 * exp(b)))) AS i_
       |  FROM evt CROSS JOIN cox${i - 1}_),
       |cox${i}_ AS (SELECT b + u / i_ AS b FROM cox${i}u)""".stripMargin

}
