package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF}
import graft.llm.Search
import graft.EntryShared._

/** Analytics breadth II — experimentation, concentration/inequality, nonparametric tests, attribution: q226-q300.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesAnalytics2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q226_sequential_ab" -> ((s, dir) => {
      // sequential-testing peeking curve: users hash-split A/B, the
      // two-sample z for mean event value recomputed at each day from
      // CUMULATIVE prefix sums (one day-grain window over the calendar-
      // bounded daily aggregate — never over raw events). The curve shows
      // what peeking does to a fixed-horizon test.
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .select(expr("us div 86400000000").as("d"),
          pmod(graft.ops.Sampling.keyHash(col("user_id")), lit(2L)).as("arm"),
          col("value").as("v"))
      val daily = ev.groupBy(col("d"))
        .agg(sum(when(col("arm") === 0, col("v"))).as("sa"),
          sum(when(col("arm") === 0, col("v") * col("v"))).as("ssa"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("arm") === 1, col("v"))).as("sb"),
          sum(when(col("arm") === 1, col("v") * col("v"))).as("ssb"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .select(col("d"), sum(col("sa")).over(w).as("csa"),
          sum(col("ssa")).over(w).as("cssa"), sum(col("na")).over(w).as("cna"),
          sum(col("sb")).over(w).as("csb"), sum(col("ssb")).over(w).as("cssb"),
          sum(col("nb")).over(w).as("cnb"))
        .filter(col("cna") > 1 && col("cnb") > 1)
        .select(col("d"), (col("cna") + col("cnb")).as("n_total"),
          round((col("csa") / col("cna") - col("csb") / col("cnb")) /
            sqrt(
              (col("cssa") - col("csa") * col("csa") / col("cna")) /
                (col("cna") - 1) / col("cna") +
              (col("cssb") - col("csb") * col("csb") / col("cnb")) /
                (col("cnb") - 1) / col("cnb")), 4).as("z"))
        .orderBy(col("d"))
    }),

    "q227_watermark_sim" -> ((s, dir) => {
      // allowed-lateness decision table: for candidate watermark delays,
      // the fraction of each type's events a streaming job would drop —
      // q222's lateness measurement crossed with a 5-row broadcast grid,
      // one counts-only aggregate.
      import s.implicits._
      val ev = events(s, dir)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = ev.withColumn("late_s",
        (max(col("us")).over(w) - col("us")).cast("double") / lit(1e6))
      val grid = Seq(0L, 30L, 60L, 300L, 900L).toDF("delay_s")
      late.crossJoin(broadcast(grid))
        .groupBy(col("event_type"), col("delay_s"))
        .agg(sum(when(col("late_s") > col("delay_s").cast("double"), 1L)
            .otherwise(0L)).as("n_dropped"),
          round(avg(when(col("late_s") > col("delay_s").cast("double"), 1.0)
            .otherwise(0.0)), 6).as("drop_rate"))
        .orderBy(col("event_type"), col("delay_s"))
    }),

    "q228_predicate_correlation" -> ((s, dir) => {
      // CBO-statistics gauge: actual conjunctive selectivity vs the
      // independence-assumption estimate for three predicate pairs — the
      // correlation factor an optimizer would need multi-column stats to
      // see. All six indicators + three conjunctions ride ONE scan/
      // aggregate; the report is three stacked rows.
      val li = t(s, dir, "lineitem")
      val a = li.agg(
        count(lit(1)).cast("double").as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("double").as("a1"),
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L))
          .cast("double").as("b1"),
        sum(when(col("l_returnflag") === "R" && col("l_linestatus") === "F",
          1L).otherwise(0L)).cast("double").as("ab1"),
        sum(when(year(col("l_shipdate")) >= 1995, 1L).otherwise(0L))
          .cast("double").as("a2"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L))
          .cast("double").as("b2"),
        sum(when(year(col("l_shipdate")) >= 1995 && col("l_quantity") > 25,
          1L).otherwise(0L)).cast("double").as("ab2"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L))
          .cast("double").as("a3"),
        sum(when(col("l_tax") > 0.04, 1L).otherwise(0L))
          .cast("double").as("b3"),
        sum(when(col("l_discount") > 0.05 && col("l_tax") > 0.04, 1L)
          .otherwise(0L)).cast("double").as("ab3"))
      def row(label: String, sa: String, sb: String, sab: String) =
        a.select(lit(label).as("predicate_pair"),
          round(col(sa) / col("n"), 6).as("sel_a"),
          round(col(sb) / col("n"), 6).as("sel_b"),
          round(col(sab) / col("n"), 6).as("sel_actual"),
          round(col(sa) * col(sb) / (col("n") * col("n")), 6).as("sel_indep"),
          round(col(sab) * col("n") / (col(sa) * col(sb)), 4)
            .as("corr_factor"))
      row("returnflag_linestatus", "a1", "b1", "ab1")
        .unionByName(row("shipyear_quantity", "a2", "b2", "ab2"))
        .unionByName(row("discount_tax", "a3", "b3", "ab3"))
        .orderBy(col("predicate_pair"))
    }),

    "q229_ipw_balance" -> ((s, dir) => {
      // inverse-propensity weighting balance check: treatment = deep
      // discount, covariate = quantity, propensity = treated share within
      // (returnflag, linestatus) strata. Standardized mean difference
      // before vs after weighting — the causal-analysis pre-flight. One
      // stratum aggregate (broadcast back, <= 6 rows) then one weighted
      // aggregate; weighted moments from Σw/Σwx/Σwx² (quantity is O(50),
      // no cancellation regime).
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          when(col("l_discount") >= 0.06, 1).otherwise(0).as("tr"),
          col("l_quantity").as("x"))
      val strata = li.groupBy(col("rf"), col("ls"))
        .agg(avg(col("tr").cast("double")).as("e"))
      val wted = li.join(broadcast(strata), Seq("rf", "ls"))
        .filter(col("e") > 0 && col("e") < 1)
        .withColumn("w", when(col("tr") === 1, lit(1.0) / col("e"))
          .otherwise(lit(1.0) / (lit(1.0) - col("e"))))
      val m = wted.agg(
        sum(when(col("tr") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("tr") === 0, 1L).otherwise(0L)).as("n_c"),
        avg(when(col("tr") === 1, col("x"))).as("mt"),
        avg(when(col("tr") === 0, col("x"))).as("mc"),
        avg(when(col("tr") === 1, col("x") * col("x"))).as("st"),
        avg(when(col("tr") === 0, col("x") * col("x"))).as("sc"),
        sum(when(col("tr") === 1, col("w"))).as("wt"),
        sum(when(col("tr") === 0, col("w"))).as("wc"),
        sum(when(col("tr") === 1, col("w") * col("x"))).as("wxt"),
        sum(when(col("tr") === 0, col("w") * col("x"))).as("wxc"),
        sum(when(col("tr") === 1, col("w") * col("x") * col("x"))).as("wxxt"),
        sum(when(col("tr") === 0, col("w") * col("x") * col("x"))).as("wxxc"))
      m.select(col("n_t"), col("n_c"),
        round((col("mt") - col("mc")) /
          sqrt(((col("st") - col("mt") * col("mt")) +
            (col("sc") - col("mc") * col("mc"))) / 2.0), 4).as("smd_before"),
        round((col("wxt") / col("wt") - col("wxc") / col("wc")) /
          sqrt(((col("wxxt") / col("wt") -
            (col("wxt") / col("wt")) * (col("wxt") / col("wt"))) +
            (col("wxxc") / col("wc") -
              (col("wxc") / col("wc")) * (col("wxc") / col("wc")))) / 2.0), 4)
          .as("smd_after"))
    }),

    "q230_did" -> ((s, dir) => {
      // difference-in-differences: ASIA-nation customers (treated) vs rest,
      // order values before/after the 1995 policy year — four cell means
      // from exact cents in ONE conditional aggregate after broadcast dim
      // joins, DiD and its pooled SE in closed form.
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"),
          when(col("r_name") === "ASIA", 1).otherwise(0).as("treat"))
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          when(year(col("o_orderdate")) >= 1995, 1).otherwise(0).as("post"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .cast("double").as("cents"))
        .join(cust, col("o_custkey") === col("c_custkey"))
      def cell(t0: Int, p0: Int, c: String) =
        when(col("treat") === t0 && col("post") === p0, col(c))
      val m = o.agg(
        count(when(col("treat") === 1 && col("post") === 1, 1L)).as("n_t1"),
        count(when(col("treat") === 1 && col("post") === 0, 1L)).as("n_t0"),
        count(when(col("treat") === 0 && col("post") === 1, 1L)).as("n_c1"),
        count(when(col("treat") === 0 && col("post") === 0, 1L)).as("n_c0"),
        avg(cell(1, 1, "cents")).as("m_t1"), avg(cell(1, 0, "cents")).as("m_t0"),
        avg(cell(0, 1, "cents")).as("m_c1"), avg(cell(0, 0, "cents")).as("m_c0"),
        avg(cell(1, 1, "cents") * cell(1, 1, "cents")).as("s_t1"),
        avg(cell(1, 0, "cents") * cell(1, 0, "cents")).as("s_t0"),
        avg(cell(0, 1, "cents") * cell(0, 1, "cents")).as("s_c1"),
        avg(cell(0, 0, "cents") * cell(0, 0, "cents")).as("s_c0"))
      def v(mm: String, ss: String, nn: String) =
        (col(ss) - col(mm) * col(mm)) * col(nn).cast("double") /
          (col(nn) - 1).cast("double") / col(nn).cast("double")
      m.select(col("n_t1"), col("n_t0"), col("n_c1"), col("n_c0"),
        round(col("m_t1") / 100.0, 4).as("mean_treat_post"),
        round(col("m_t0") / 100.0, 4).as("mean_treat_pre"),
        round(col("m_c1") / 100.0, 4).as("mean_ctrl_post"),
        round(col("m_c0") / 100.0, 4).as("mean_ctrl_pre"),
        round((col("m_t1") - col("m_t0") - (col("m_c1") - col("m_c0"))) / 100.0,
          4).as("did"),
        round(sqrt(v("m_t1", "s_t1", "n_t1") + v("m_t0", "s_t0", "n_t0") +
          v("m_c1", "s_c1", "n_c1") + v("m_c0", "s_c0", "n_c0")) / 100.0, 4)
          .as("did_se"))
    }),

    "q231_string_agg" -> ((s, dir) => {
      // ordered list/string aggregation parity: collect_list is
      // UNORDERED in a distributed engine — the portable contract is
      // sort_array before rendering (vs DuckDB's string_agg ORDER BY).
      // The CSV renders the FIRST 8 suppliers per nation (rank<=8 →
      // WindowGroupLimit bounds the collect input): a whole-group CSV is
      // an O(group)-sized result row — GB-scale strings per nation at the
      // 100 TB target — and no declaration can make that bounded, so the
      // realistic top-k render replaced it in round 7. Counts and totals
      // still aggregate over ALL suppliers (cheap declarative partials).
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("s_name"), col("s_acctbal"))
      val totals = sup.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 2).as("total_bal"))
      val top8 = sup
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("n_name")).orderBy(col("s_name"))))
        .filter(col("rn") <= 8)
        .groupBy(col("n_name"))
        .agg(concat_ws(",", sort_array(collect_list(col("s_name"))))
          .as("supplier_csv"))
      totals.join(top8, Seq("n_name"))
        .select(col("n_name"), col("n_suppliers"), col("supplier_csv"),
          col("total_bal"))
        .orderBy(col("n_name"))
    }),

    "q232_span_corruption" -> ((s, dir) => {
      // T5-style span-corruption bookkeeping: tokens partitioned into
      // 20-token blocks, one 3-token mask per full block, span offset
      // drawn per (doc, block) from the portable keyHash — so mask count,
      // sentinel count, AND the exact offset checksum are all engine-
      // reproducible. The per-block explode is bounded by nt/20, and the
      // final shape is one per-language aggregate.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(expr("regexp_extract_all(text, '[^ ]+', 0)")).cast("long")
            .as("nt"))
        .withColumn("n_blocks", expr("nt div 20"))
        .materialize  // block explode + the per-doc join-back
      val blocks = d.filter(col("n_blocks") > 0)
        .withColumn("b", explode(expr("sequence(0L, n_blocks - 1)")))
        .select(col("doc_id"), col("lang"),
          pmod(graft.ops.Sampling.keyHash(col("doc_id") * lit(131L) + col("b")),
            lit(18L)).as("off"))
      val perDoc = blocks.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_spans"), sum(col("off")).as("off_sum"))
      d.join(perDoc.select(col("doc_id"), col("n_spans"), col("off_sum")),
          Seq("doc_id"), "left")
        .select(col("lang"), col("nt"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("off_sum"), lit(0L)).as("off_sum"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
          sum(col("n_spans")).as("total_sentinels"),
          sum(col("n_spans") * 3).as("masked_tokens"),
          round(sum(col("n_spans") * 3).cast("double") /
            sum(col("nt")).cast("double"), 6).as("mask_frac"),
          sum(col("off_sum")).as("offset_checksum"))
        .orderBy(col("lang"))
    }),

    "q233_class_reweight" -> ((s, dir) => {
      // class-imbalance reweighting for the language mix: weights
      // proportional to 1/sqrt(n) normalized so the weighted corpus size
      // equals N — the standard temperature-0.5 rebalance — with the
      // before/after share table. Counts-only aggregate + one broadcast
      // normalization scalar.
      val cnt = t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).cast("double").as("nn"),
        sum(sqrt(col("n").cast("double"))).as("ssq"))
      cnt.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          round(col("nn") / col("ssq") / sqrt(col("n").cast("double")), 6)
            .as("weight"),
          round(col("n").cast("double") / col("nn"), 6).as("share_before"),
          round(sqrt(col("n").cast("double")) / col("ssq"), 6)
            .as("share_after"))
        .orderBy(col("lang"))
    }),

    "q234_bom_rollup" -> ((s, dir) => {
      // hierarchy rollup without recursion: ancestors of a part are its
      // decimal prefixes (pk div 10^k), so the whole bill-of-materials
      // rollup is ONE 6-row broadcast explode + one aggregate — counts
      // and exact-cents cost per ancestor node, top 20 by subtree size.
      // The closed-form ancestor join replaces an iterative climb at any
      // scale (depth is log10-bounded).
      import s.implicits._
      val levels = Seq(1 -> 10L, 2 -> 100L, 3 -> 1000L, 4 -> 10000L,
        5 -> 100000L, 6 -> 1000000L).toDF("k", "divisor")
      t(s, dir, "part")
        .select(col("p_partkey").as("pk"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("cents"))
        .crossJoin(broadcast(levels))
        .withColumn("anc", expr("pk div divisor"))
        .filter(col("anc") > 0)
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum(col("cents")).as("cost_cents"))
        .orderBy(col("n_desc").desc, col("anc"))
        .limit(20)
    }),

    "q235_dp_counts" -> ((s, dir) => {
      // differential-privacy noise gauge with a DETERMINISTIC Laplace
      // draw: u from the portable keyHash of the language's rank (strings
      // never hashed — engine string hashes differ), noise = -b*sign(u-½)*
      // ln(1-2|u-½|) at b=10 (ε=0.1 per count). Both engines reproduce
      // the exact noisy value, so the privacy/utility table is
      // oracle-checkable — the point is the bookkeeping, not secrecy.
      val cnt = t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("lang"))
      cnt.withColumn("lid", row_number().over(w).cast("long"))
        .withColumn("u",
          (graft.ops.Sampling.keyHash(col("lid")) + 0.5) / lit(4294967296.0))
        .withColumn("lap", lit(-10.0) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
        .select(col("lang"), col("n"),
          round(col("n") + col("lap"), 4).as("noisy_n"),
          round(abs(col("lap")), 4).as("abs_err"))
        .orderBy(col("lang"))
    }),

    "q236_ndcg" -> ((s, dir) => {
      // retrieval quality eval: BM25 top-10 scored against exact
      // contains-all-terms relevance labels — P@10 and NDCG@10 per query,
      // IDCG from the true relevant count. Labels come from the same
      // posting join the ranker uses (term-keyed, bounded), never a scan
      // of docs x queries.
      val queries = bm25Queries(s)
      val docs = t(s, dir, "documents")
      val ranked = Search.bm25TopK(docs, "text", "doc_id", queries, 10)
      val qt = queries.select(col("query_id"), explode(expr(
        "array_distinct(filter(split(lower(query_text), '[^a-z0-9]+'), x -> x <> ''))"))
        .as("term"))
      val nq = qt.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
      val dt = docs.select(col("doc_id"), explode(expr(
        "array_distinct(filter(split(lower(text), '[^a-z0-9]+'), x -> x <> ''))"))
        .as("term"))
      val rel = qt.join(dt, "term")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("nmatch"))
        .join(broadcast(nq), "query_id")
        .filter(col("nmatch") === col("n_terms"))
        .select(col("query_id"), col("doc_id"), lit(1).as("rel"))
        .materialize  // totals + the top-10 join
      val ntot = rel.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_relevant"))
      val dcg = ranked.join(rel, Seq("query_id", "doc_id"), "left")
        .withColumn("r", coalesce(col("rel"), lit(0)).cast("double"))
        .groupBy(col("query_id"))
        .agg(sum(col("r")).as("n_hits"),
          sum(col("r") / log2(col("rank").cast("double") + 1.0)).as("dcg"))
      val idcg = ntot
        .withColumn("i", explode(expr("sequence(1L, least(10L, n_relevant))")))
        .groupBy(col("query_id"), col("n_relevant"))
        .agg(sum(lit(1.0) / log2(col("i").cast("double") + 1.0)).as("idcg"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"), col("n_relevant"),
          round(col("n_hits") / 10.0, 4).as("p_at_10"),
          round(when(col("idcg") > 0, col("dcg") / col("idcg"))
            .otherwise(lit(0.0)), 4).as("ndcg_at_10"))
        .orderBy(col("query_id"))
    }),

    "q237_ordered_set_aggs" -> ((s, dir) => {
      // ordered-set aggregates with PORTABLE tie semantics: builtin mode()
      // and percentile_disc() tie-break differently across engines, so
      // both are spelled as two-phase reductions over the per-value count
      // table — mode = (count desc, value asc) argmax, discrete median =
      // smallest value whose doubled cumulative count reaches n. Counts
      // only after the first aggregate.
      val cnt = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("c"))
        .materialize  // mode argmax + cumulative median pass
      val wRank = Window.partitionBy(col("rf"))
        .orderBy(col("c").desc, col("q"))
      val mode = cnt.withColumn("rn", row_number().over(wRank))
        .filter(col("rn") === 1)
        .select(col("rf"), col("q").as("mode_qty"))
      val wCum = Window.partitionBy(col("rf")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = cnt.groupBy(col("rf")).agg(sum(col("c")).as("n"))
      val med = cnt.withColumn("cum", sum(col("c")).over(wCum))
        .join(broadcast(tot), "rf")
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("rf")).agg(min(col("q")).as("median_disc"))
      tot.join(mode, "rf").join(med, "rf")
        .select(col("rf"), col("n"), col("mode_qty"), col("median_disc"))
        .orderBy(col("rf"))
    }),

    "q238_calendar_gallery" -> ((s, dir) => {
      // calendar-function parity gallery: per order month, quarter (pure
      // arithmetic — engine quarter() conventions are safe but arithmetic
      // is self-evident), days-in-month via last_day, day-of-year of the
      // 1st, ISO week of the 15th (mid-month dodges year-boundary ISO
      // divergence). The frame is the bounded month table, one aggregate
      // ahead of the date math.
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("y"), col("m"), col("n_orders"),
          ((col("m") + 2) / 3).cast("int").as("quarter"),
          dayofmonth(last_day(make_date(col("y"), col("m"), lit(1))))
            .as("days_in_month"),
          dayofyear(make_date(col("y"), col("m"), lit(1))).as("doy_first"),
          weekofyear(make_date(col("y"), col("m"), lit(15))).as("iso_week_mid"))
        .orderBy(col("y"), col("m"))
    }),

    "q239_scd2_amplification" -> ((s, dir) => {
      // warehouse-economics gauge: SCD2 history rows vs daily full
      // snapshots for the user-type dimension. Snapshot volume has a
      // closed form (each user contributes max_day - first_day + 1 rows),
      // so no day explode; SCD2 rows come from the same change-collapse
      // the q95 history uses. One user-keyed shuffle + broadcast scalars.
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("us"),
          expr("us div 86400000000").as("d"), col("event_id"))
        .materialize  // change-collapse + span scalar + per-user first-day
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val scd2 = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .agg(sum(when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
          .as("scd2_rows"))
      val span = ev.agg(max(col("d")).as("dmax"))
      val snap = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
        .crossJoin(broadcast(span))
        .agg(count(lit(1)).as("n_users"),
          sum(col("dmax") - col("d0") + 1).as("snapshot_rows"))
      snap.crossJoin(broadcast(scd2))
        .select(col("n_users"), col("scd2_rows"), col("snapshot_rows"),
          round(col("snapshot_rows").cast("double") /
            col("scd2_rows").cast("double"), 4).as("amplification"))
    }),

    "q240_zonemap_prune" -> ((s, dir) => {
      // zone-map pruning estimator: per month partition, (min, max, rows)
      // stats; for three date-range predicates, how many partitions a
      // stats-pruned scan touches and how many rows it saves vs the
      // actual match count. Epoch-day arithmetic end-to-end (bounds are
      // precomputed day numbers: 1994 = [8766, 9130], 1995H1 =
      // [9131, 9311], 1996-03 = [9556, 9586]). The stats table is
      // month-bounded; everything after is broadcast-grid counts.
      import s.implicits._
      val o = t(s, dir, "orders")
        .select(((year(col("o_orderdate")) - 1992) * 12 +
          month(col("o_orderdate")) - 1).as("mpart"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400")
            .as("d"))
        .materialize  // zone-map stats + actual match counts
      val zones = o.groupBy(col("mpart"))
        .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"),
          count(lit(1)).as("rows"))
      val preds = Seq(("y1994", 8766L, 9130L), ("h1_1995", 9131L, 9311L),
        ("m1996_03", 9556L, 9586L)).toDF("pred", "lo", "hi")
      val scan = zones.crossJoin(broadcast(preds))
        .groupBy(col("pred"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("partitions_total"),
          sum(when(col("dmin") <= col("hi") && col("dmax") >= col("lo"), 1L)
            .otherwise(0L)).as("partitions_scanned"),
          sum(when(col("dmin") <= col("hi") && col("dmax") >= col("lo"),
            col("rows")).otherwise(0L)).as("rows_scanned"),
          sum(col("rows")).as("rows_total"))
      val actual = o.crossJoin(broadcast(preds))
        .filter(col("d") >= col("lo") && col("d") <= col("hi"))
        .groupBy(col("pred")).agg(count(lit(1)).as("rows_matching"))
      scan.join(actual, "pred")
        .select(col("pred"), col("partitions_total"),
          col("partitions_scanned"), col("rows_total"), col("rows_scanned"),
          col("rows_matching"),
          round(lit(1.0) - col("rows_scanned").cast("double") /
            col("rows_total").cast("double"), 6).as("prune_ratio"))
        .orderBy(col("pred"))
    }),

    "q241_join_fanout" -> ((s, dir) => {
      // join-multiplicity audit for the four warehouse FK edges: per
      // parent key the child match count (zero-match parents included via
      // left join), then avg/p99/max fan-out — the numbers that predict
      // join output size and AQE skew handling. Two counts-only phases
      // per edge.
      def edge(name: String, parent: DataFrame, pk: String,
               child: DataFrame, fk: String): DataFrame = {
        val cc = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
        val fanouts = parent.select(col(pk).as("k"))
          .join(cc, Seq("k"), "left")
          .select(coalesce(col("c"), lit(0L)).as("c"))
        ScaleChecks.boundedDomain(fanouts,
            "per-parent FK fan-out counts: a small-integer domain bounded " +
              "by the max child multiplicity, distinct values never track " +
              "parent rows",
            budget = 100000L)
          .agg(count(lit(1)).as("n_parents"),
            sum(when(col("c") === 0, 1L).otherwise(0L)).as("n_childless"),
            round(avg(col("c").cast("double")), 4).as("avg_fanout"),
            expr("CAST(percentile(c, 0.99) AS DOUBLE)").as("p99_raw"),
            max(col("c")).as("max_fanout"))
          .select(lit(name).as("edge"), col("n_parents"), col("n_childless"),
            col("avg_fanout"), round(col("p99_raw"), 4).as("p99_fanout"),
            col("max_fanout"))
      }
      val li = t(s, dir, "lineitem")
      edge("orders_lineitem", t(s, dir, "orders"), "o_orderkey", li, "l_orderkey")
        .unionByName(edge("part_lineitem", t(s, dir, "part"), "p_partkey",
          li, "l_partkey"))
        .unionByName(edge("supplier_lineitem", t(s, dir, "supplier"),
          "s_suppkey", li, "l_suppkey"))
        .unionByName(edge("customer_orders", t(s, dir, "customer"),
          "c_custkey", t(s, dir, "orders"), "o_custkey"))
        .orderBy(col("edge"))
    }),

    "q242_rolling_retention" -> ((s, dir) => {
      // classic day-k retention (k = 1, 7, 28): a user counts as retained
      // if active exactly on first_day + k; eligibility requires the
      // horizon to fit the corpus. Distinct (user, day) activity and the
      // per-user first day are each one aggregate; the retention check is
      // an equi-join on (user, day+k) — no window over raw events.
      import s.implicits._
      val act = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), expr("us div 86400000000").as("d"))
        .distinct()
        .materialize  // first-day aggregate + the day+k probe side
      val first = act.groupBy(col("user_id")).agg(min(col("d")).as("f"))
      val dmax = act.agg(max(col("d")).as("dmax"))
      val ks = Seq(1L, 7L, 28L).toDF("k")
      val elig = first.crossJoin(broadcast(ks))
        .crossJoin(broadcast(dmax))
        .filter(col("f") + col("k") <= col("dmax"))
      val probe = act.select(col("user_id").as("uid2"), col("d").as("dk"))
      elig.join(probe,
          col("user_id") === col("uid2") &&
            col("dk") === col("f") + col("k"), "left")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_eligible"),
          sum(when(col("dk").isNotNull, 1L).otherwise(0L)).as("n_retained"),
          round(avg(when(col("dk").isNotNull, 1.0).otherwise(0.0)), 6)
            .as("retention_rate"))
        .orderBy(col("k"))
    }),

    "q243_seasonality_strength" -> ((s, dir) => {
      // STL-style strength measures per event type: trend strength =
      // 1 - var(detrended)/var(series), seasonal strength =
      // 1 - var(residual)/var(detrended), from the q216 decomposition
      // run per type (windows partitioned by type over the calendar-
      // bounded daily table; dow means join back broadcast).
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("event_type"), expr("us div 86400000000").as("d"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(-3, 3)
      val detr = daily
        .withColumn("trend", avg(col("v")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 7)
        .select(col("event_type"), col("v"),
          pmod(col("d") + 3, lit(7L)).as("dow"),
          (col("v") - col("trend")).as("detr"))
        .materialize  // dow means + the strength aggregate
      val dowMean = detr.groupBy(col("event_type"), col("dow"))
        .agg(avg(col("detr")).as("sdow"))
      detr.join(broadcast(dowMean), Seq("event_type", "dow"))
        .withColumn("resid", col("detr") - col("sdow"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          (avg(col("v") * col("v")) - avg(col("v")) * avg(col("v")))
            .as("var_v"),
          (avg(col("detr") * col("detr")) - avg(col("detr")) * avg(col("detr")))
            .as("var_d"),
          (avg(col("resid") * col("resid")) - avg(col("resid")) * avg(col("resid")))
            .as("var_r"))
        .select(col("event_type"), col("n_days"),
          round(greatest(lit(0.0), lit(1.0) - col("var_d") / col("var_v")), 4)
            .as("trend_strength"),
          round(greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_d")), 4)
            .as("seasonal_strength"))
        .orderBy(col("event_type"))
    }),

    "q244_uncertainty_sample" -> ((s, dir) => {
      // active-learning selection: the 20 docs the q138 classifier is
      // least sure about (|p - 0.5| smallest). The model trains in 3
      // one-aggregate GD epochs; scoring broadcasts the 4 learned
      // coefficients as literals, so selection is one scan + bounded
      // top-k. Margins are rounded BEFORE ordering so the cut is
      // engine-stable.
      val (_, _, wts) = classifierModel(s, dir)
      val len = length(col("text")).cast("double")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        (lit(wts(0)) + lit(wts(1)) * (len / 100.0) +
          lit(wts(2)) * ((len - length(regexp_replace(col("text"), " ", ""))
            .cast("double")) / len) +
          lit(wts(3)) * ((len - length(regexp_replace(col("text"), "[0-9]", ""))
            .cast("double")) / len)).as("logit"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("logit")))).as("p"))
      scored.select(col("doc_id"), round(col("p"), 6).as("p"),
          round(abs(col("p") - 0.5), 6).as("margin"))
        .orderBy(col("margin"), col("doc_id"))
        .limit(20)
    }),

    "q245_broadcast_advisor" -> ((s, dir) => {
      // broadcast-join advisor: estimated in-memory bytes per dimension
      // table (fixed-width columns + measured string octet lengths) vs
      // the 10 MB auto-broadcast threshold. One aggregate per table,
      // five stacked advice rows — the planner input you check before
      // forcing a join strategy.
      def advise(name: String, df: DataFrame, fixed: Int,
                 strCols: Seq[String]): DataFrame = {
        val strBytes = strCols.map(c => octet_length(col(c)).cast("long"))
          .reduceOption(_ + _).getOrElse(lit(0L))
        df.agg(count(lit(1)).as("n_rows"),
            sum(strBytes + fixed.toLong).as("est_bytes"))
          .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
            when(col("est_bytes") < 10485760L, 1L).otherwise(0L)
              .as("broadcastable"))
      }
      advise("region", t(s, dir, "region"), 4, Seq("r_name"))
        .unionByName(advise("nation", t(s, dir, "nation"), 8, Seq("n_name")))
        .unionByName(advise("supplier", t(s, dir, "supplier"), 20,
          Seq("s_name")))
        .unionByName(advise("customer", t(s, dir, "customer"), 20,
          Seq("c_name", "c_mktsegment")))
        .unionByName(advise("part", t(s, dir, "part"), 20,
          Seq("p_name", "p_brand", "p_type")))
        .orderBy(col("table_name"))
    }),

    "q246_storage_tiering" -> ((s, dir) => {
      // lifecycle tiering plan: month partitions classed hot (< 1y old),
      // warm (< 2y), cold by age against the corpus max day, with row and
      // estimated byte volumes per tier (fixed widths + measured string
      // bytes). The month-stats table is calendar-bounded; the tier
      // decision is pure integer arithmetic.
      val li = t(s, dir, "lineitem")
        .select(((year(col("l_shipdate")) - 1992) * 12 +
          month(col("l_shipdate")) - 1).cast("long").as("mpart"),
          expr("CAST(CAST(l_shipdate AS TIMESTAMP) AS LONG) div 86400")
            .as("d"),
          (lit(68L) + octet_length(col("l_returnflag")).cast("long") +
            octet_length(col("l_linestatus")).cast("long")).as("bytes"))
      val parts = li.groupBy(col("mpart"))
        .agg(count(lit(1)).as("rows"), sum(col("bytes")).as("est_bytes"),
          max(col("d")).as("dpart_max"))
      val gmax = parts.agg(max(col("dpart_max")).as("dmax"))
      parts.crossJoin(broadcast(gmax))
        .withColumn("age_days", col("dmax") - col("dpart_max"))
        .withColumn("tier", when(col("age_days") <= 365, "hot")
          .when(col("age_days") <= 730, "warm").otherwise("cold"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_partitions"), sum(col("rows")).as("rows"),
          sum(col("est_bytes")).as("est_bytes"),
          min(col("age_days")).as("min_age_days"),
          max(col("age_days")).as("max_age_days"))
        .orderBy(col("tier"))
    }),

    "q247_embedding_drift" -> ((s, dir) => {
      // vector-space drift: per label, the cosine between the centroid of
      // even-id vectors and odd-id vectors, plus the norm ratio — the
      // embedding twin of numeric PSI (q137) and token KL (q173). The
      // explode is |vectors| x 64 dims but reduces immediately to a
      // (label, dim) aggregate; the final reduction is per label.
      val e = t(s, dir, "embeddings")
        .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
          posexplode(col("embedding")))
        .select(col("label"), col("half"), col("pos").as("i"),
          col("col").cast("double").as("v"))
      val cent = e.groupBy(col("label"), col("i"))
        .agg(avg(when(col("half") === 0, col("v"))).as("ca"),
          avg(when(col("half") === 1, col("v"))).as("cb"))
      val cnt = t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(sum(when(pmod(col("vec_id"), lit(2L)) === 0, 1L).otherwise(0L))
            .as("n_even"),
          sum(when(pmod(col("vec_id"), lit(2L)) === 1, 1L).otherwise(0L))
            .as("n_odd"))
      cent.groupBy(col("label"))
        .agg(sum(col("ca") * col("cb")).as("dot"),
          sum(col("ca") * col("ca")).as("na"),
          sum(col("cb") * col("cb")).as("nb"))
        .join(broadcast(cnt), "label")
        .select(col("label"), col("n_even"), col("n_odd"),
          round(col("dot") / sqrt(col("na") * col("nb")), 6)
            .as("centroid_cosine"),
          round(sqrt(col("na") / col("nb")), 6).as("norm_ratio"))
        .orderBy(col("label"))
    }),

    "q248_survivor_policy" -> ((s, dir) => {
      // dedup survivorship policy comparison on planted 2-member families
      // (original + clipped copy): keep-min-id vs keep-best-quality. The
      // quality delta is real (clipping changes the score), so the report
      // shows how much quality a naive min-id policy leaves behind. One
      // family-keyed aggregate; comparisons on ROUNDED quality so the
      // differing-family count is engine-stable.
      val docs = docsWithNearDups(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(100000L)).as("fam"),
          TF.qualityScore(col("text")).as("quality"))
      docs.groupBy(col("fam"))
        .agg(min(struct(col("doc_id"), col("quality"))).as("minid"),
          max(col("quality")).as("best_q"), count(lit(1)).as("sz"))
        .select(col("fam"), col("sz"),
          col("minid").getField("quality").as("minid_q"), col("best_q"))
        .agg(count(lit(1)).as("n_families"),
          sum(when(round(col("best_q"), 6) > round(col("minid_q"), 6), 1L)
            .otherwise(0L)).as("n_differing"),
          round(avg(col("minid_q")), 6).as("avg_q_minid"),
          round(avg(col("best_q")), 6).as("avg_q_best"),
          round(avg(col("best_q") - col("minid_q")), 6).as("avg_gain"))
    }),

    "q249_semantics_gallery" -> ((s, dir) => {
      // cross-engine semantics gallery — the traps a portability layer
      // must spell out, each asserted as a data-derived metric: NULL join
      // keys never match; GROUP BY folds NULLs into one group; negative
      // modulo needs pmod (engine % signs differ from mathematical mod);
      // integer division toward zero vs floor MUST be spelled as explicit
      // trunc()/floor() — native operators disagree AND unary-minus
      // precedence flips `-7 // 2` to -(7//2); out-of-range substring is
      // '' not NULL; least() skips NULLs on both engines.
      val c = t(s, dir, "customer")
        .select(expr("nullif(c_nationkey, 3)").as("nk"))
      val joinMatches = c.join(broadcast(t(s, dir, "nation")),
          col("nk") === col("n_nationkey"))
        .agg(count(lit(1)).as("v"))
        .select(lit("null_keys_drop_from_join").as("metric"), col("v"))
      val groups = c.groupBy(col("nk")).agg(count(lit(1)))
        .agg(count(lit(1)).as("v"))
        .select(lit("null_forms_one_group").as("metric"), col("v"))
      val sup = t(s, dir, "supplier")
      val scalarTraps = sup.agg(
          max(pmod(lit(-7), lit(3))).cast("long").as("pmod_neg"),
          max(expr("-7 div 2")).cast("long").as("trunc_div_neg"),
          max(floor(lit(-7.0) / 2.0)).cast("long").as("floor_div_neg"),
          sum(when(expr("substring(s_name, 100, 10)") === "", 1L)
            .otherwise(0L)).as("oob_substr_empty"),
          sum(when(least(expr("nullif(s_nationkey, s_nationkey)"),
            col("s_nationkey")).isNotNull, 1L).otherwise(0L))
            .as("least_skips_null"))
      def m(label: String, cname: String) = scalarTraps
        .select(lit(label).as("metric"), col(cname).as("v"))
      joinMatches.unionByName(groups)
        .unionByName(m("pmod_negative", "pmod_neg"))
        .unionByName(m("trunc_div_negative", "trunc_div_neg"))
        .unionByName(m("floor_div_negative", "floor_div_neg"))
        .unionByName(m("oob_substring_is_empty", "oob_substr_empty"))
        .unionByName(m("least_skips_nulls", "least_skips_null"))
        .orderBy(col("metric"))
    }),

    "q250_release_manifest" -> ((s, dir) => {
      // corpus release manifest (the data card a training run pins): per
      // table, row count, key cardinality, uniqueness flag, and key
      // range — one aggregate per table, ten stacked rows. The capstone
      // "what exactly shipped" artifact.
      def card(name: String, df: DataFrame, key: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct(col(key)).as("n_distinct_key"),
            min(col(key)).cast("long").as("min_key"),
            max(col(key)).cast("long").as("max_key"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("n_distinct_key"),
            when(col("n_rows") === col("n_distinct_key"), 1L).otherwise(0L)
              .as("key_unique"),
            col("min_key"), col("max_key"))
      card("region", t(s, dir, "region"), "r_regionkey")
        .unionByName(card("nation", t(s, dir, "nation"), "n_nationkey"))
        .unionByName(card("customer", t(s, dir, "customer"), "c_custkey"))
        .unionByName(card("supplier", t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(card("part", t(s, dir, "part"), "p_partkey"))
        .unionByName(card("orders", t(s, dir, "orders"), "o_orderkey"))
        .unionByName(card("lineitem", t(s, dir, "lineitem"), "l_orderkey"))
        .unionByName(card("events", t(s, dir, "events"), "event_id"))
        .unionByName(card("documents", t(s, dir, "documents"), "doc_id"))
        .unionByName(card("embeddings", t(s, dir, "embeddings"), "vec_id"))
        .orderBy(col("table_name"))
    }),

    "q251_array_gallery" -> ((s, dir) => {
      // higher-order array-function parity gallery over the embedding
      // column: slice + fold (aggregate), zip_with against the reversed
      // vector, array max — the lambda-function surface a vector pipeline
      // leans on, each reduced per label so the output is bounded. Floats
      // widen to double BEFORE any arithmetic on both engines.
      t(s, dir, "embeddings")
        .select(col("label"),
          expr("aggregate(slice(embedding, 1, 4), CAST(0.0 AS DOUBLE), " +
            "(a, x) -> a + CAST(x AS DOUBLE))").as("head4_sum"),
          expr("aggregate(zip_with(embedding, reverse(embedding), " +
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("rev_dot"),
          expr("CAST(array_max(embedding) AS DOUBLE)").as("mx"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("head4_sum")), 6).as("avg_head4_sum"),
          round(avg(col("rev_dot")), 6).as("avg_rev_dot"),
          round(avg(col("mx")), 6).as("avg_max"))
        .orderBy(col("label"))
    }),

    "q252_path_entropy" -> ((s, dir) => {
      // behavioral diversity by activity level: per-user Shannon entropy
      // of the event-type mix, averaged within log2 activity buckets —
      // do heavy users do more kinds of things? Two counts-only
      // aggregates ((user, type) then user) and one bounded bucket
      // rollup; entropy from exact integer counts.
      val ut = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val ent = ut.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"),
          (log(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
              sum(col("c")).cast("double")).as("h"))
      ent.withColumn("bucket", floor(log2(col("n").cast("double")))
          .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("n").cast("double")), 4).as("avg_events"),
          round(avg(col("h")), 6).as("avg_entropy"))
        .orderBy(col("bucket"))
    }),

    "q253_drawdown" -> ((s, dir) => {
      // max drawdown of the daily order-revenue series: running peak via
      // a prefix-max window over the calendar-bounded daily table (exact
      // cents), drawdown depth and the day it bottoms. Top-1 selection
      // with a day tiebreak, following the q176 CUSUM argmax contract.
      val daily = t(s, dir, "orders")
        .groupBy(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400")
          .as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("peak", max(col("cents")).over(w))
        .withColumn("dd", col("peak") - col("cents"))
        .orderBy(col("dd").desc, col("d"))
        .limit(1)
        .select(col("d").as("trough_day"),
          col("peak").as("peak_cents"), col("cents").as("trough_cents"),
          col("dd").as("drawdown_cents"),
          round(col("dd").cast("double") / col("peak").cast("double"), 6)
            .as("drawdown_frac"))
    }),

    "q254_revenue_waterfall" -> ((s, dir) => {
      // FP&A waterfall: the 1995→1996 revenue delta decomposed into price,
      // volume, and cross effects over parts traded in BOTH years —
      // price = Σ q95·Δp, volume = Σ p95·Δq, cross = Σ Δp·Δq, an exact
      // algebraic identity with the matched total. One (part, year)
      // aggregate, a part-keyed self-join of the two year slices, one
      // closed-form reduction.
      val py = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .groupBy(col("l_partkey").as("pk"),
          year(col("l_shipdate")).as("yr"))
        .agg(sum(col("l_quantity")).as("q"),
          sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("double").as("c"))
        .withColumn("p", col("c") / col("q"))
        .materialize  // both year slices
      val a = py.filter(col("yr") === 1995)
        .select(col("pk"), col("q").as("q0"), col("c").as("c0"),
          col("p").as("p0"))
      val b = py.filter(col("yr") === 1996)
        .select(col("pk"), col("q").as("q1"), col("c").as("c1"),
          col("p").as("p1"))
      a.join(b, "pk")
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("c1") - col("c0")) / 100.0, 2).as("delta_total"),
          round(sum(col("q0") * (col("p1") - col("p0"))) / 100.0, 2)
            .as("price_effect"),
          round(sum(col("p0") * (col("q1") - col("q0"))) / 100.0, 2)
            .as("volume_effect"),
          round(sum((col("p1") - col("p0")) * (col("q1") - col("q0"))) / 100.0,
            2).as("cross_effect"))
    }),

    "q255_dkw_band" -> ((s, dir) => {
      // distribution-free CI on the median: the DKW inequality puts the
      // true median inside the empirical quantiles at 0.5 ± ε, ε =
      // sqrt(ln(2/α)/2n). ε varies per brand, so the band quantiles are
      // discrete rank lookups (conditional min/max over the ranked price
      // table — engine percentile() requires a CONSTANT fraction), all
      // from one brand-partitioned window.
      val pr = t(s, dir, "part")
        .select(col("p_brand"), col("p_retailprice").as("v"))
      val ranked = pr
        .withColumn("rk", row_number().over(Window.partitionBy(col("p_brand"))
          .orderBy(col("v"))))
      val nn = ranked.groupBy(col("p_brand"))
        .agg(max(col("rk")).cast("long").as("n"))
      val banded = ranked.join(broadcast(nn), "p_brand")
        .withColumn("eps", sqrt(log(lit(2.0) / 0.05) /
          (lit(2.0) * col("n").cast("double"))))
        .withColumn("lo_k", greatest(lit(1L),
          ceil((lit(0.5) - col("eps")) * col("n").cast("double")).cast("long")))
        .withColumn("hi_k", least(col("n").cast("long"),
          ceil((lit(0.5) + col("eps")) * col("n").cast("double")).cast("long")))
      ScaleChecks.boundedDomain(banded,
          "p_retailprice is cent-quantized on a bounded price range: the " +
            "per-brand buffer saturates at range x 100 (~110k cells, " +
            "~2 MB), it does not track part rows",
          budget = 110000L)
        .groupBy(col("p_brand"))
        .agg(first(col("n")).as("n"),
          round(first(col("eps")), 6).as("dkw_eps"),
          min(when(col("rk") >= col("lo_k"), col("v"))).as("band_lo"),
          max(when(col("rk") <= col("hi_k"), col("v"))).as("band_hi"),
          round(expr("percentile(v, 0.5)"), 4).as("median"))
        .orderBy(col("p_brand"))
    }),

    "q256_precedence_matrix" -> ((s, dir) => {
      // directional precedence: for each event-type pair, on how many
      // user-days does A's first occurrence precede B's? First-occurrence
      // frame keyed (user, day, type), pair self-join bounded by types²
      // per user-day, exact microsecond compares with ties reported —
      // the order-of-operations evidence behind funnel hypotheses.
      val ft = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("user_id"), expr("us div 86400000000").as("d"),
          col("event_type"))
        .agg(min(col("us")).as("fus"))
        .materialize  // both sides of the pair self-join
      val a = ft.select(col("user_id"), col("d"), col("event_type").as("t1"),
        col("fus").as("us1"))
      val b = ft.select(col("user_id"), col("d"), col("event_type").as("t2"),
        col("fus").as("us2"))
      a.join(b, Seq("user_id", "d")).filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("n_userdays"),
          sum(when(col("us1") < col("us2"), 1L).otherwise(0L)).as("t1_first"),
          sum(when(col("us1") > col("us2"), 1L).otherwise(0L)).as("t2_first"),
          sum(when(col("us1") === col("us2"), 1L).otherwise(0L)).as("ties"))
        .withColumn("t1_share",
          round(col("t1_first").cast("double") /
            col("n_userdays").cast("double"), 4))
        .orderBy(col("t1"), col("t2"))
    }),

    "q257_price_endings" -> ((s, dir) => {
      // psychological-pricing audit: the distribution of retail-price
      // cent endings (.99 spikes and friends) with per-ending chi-square
      // terms against uniform — Benford's charm-price cousin (q156).
      // Counts only; top 10 endings by frequency.
      val e = t(s, dir, "part")
        .select(pmod(expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)"),
          lit(100L)).as("ending"))
        .groupBy(col("ending")).agg(count(lit(1)).as("n"))
      val tot = e.agg(sum(col("n")).cast("double").as("nt"))
      e.crossJoin(broadcast(tot))
        .select(col("ending"), col("n"),
          round(col("n").cast("double") / col("nt"), 6).as("share"),
          round(pow(col("n").cast("double") - col("nt") / 100.0, 2) /
            (col("nt") / 100.0), 4).as("chi2_term"))
        .orderBy(col("n").desc, col("ending"))
        .limit(10)
    }),

    "q258_breach_streaks" -> ((s, dir) => {
      // gaps-and-islands on the revenue calendar: longest consecutive run
      // of days below 80% of the mean daily take. Island id = d - rank
      // among below-days (the classic idiom), windows over the
      // calendar-bounded daily table only; earliest-start tiebreak.
      val daily = t(s, dir, "orders")
        .groupBy(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400")
          .as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
        .materialize  // threshold scalar + the flagged series
      val thr = daily.agg((avg(col("cents")) * 0.8).as("thr"))
      val below = daily.crossJoin(broadcast(thr))
        .filter(col("cents").cast("double") < col("thr"))
      val isl = below
        .withColumn("grp", col("d") - row_number().over(Window.orderBy(col("d"))))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"),
          max(col("d")).as("end_d"))
      val nTot = below.agg(count(lit(1)).as("n_below_days"))
        .crossJoin(isl.agg(count(lit(1)).as("n_streaks")))
      isl.orderBy(col("len").desc, col("start_d")).limit(1)
        .crossJoin(broadcast(nTot))
        .select(col("n_below_days"), col("n_streaks"),
          col("len").as("max_streak_len"), col("start_d"), col("end_d"))
    }),

    "q259_seasonal_naive" -> ((s, dir) => {
      // forecast-baseline shootout: same-day-last-week (seasonal naive)
      // vs yesterday (naive) MAE per event type, over days where both
      // baselines exist — the sanity check that tells you whether q207's
      // smoother beats the cheapest seasonal memory. Per-type lag windows
      // over the calendar-bounded daily table.
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("event_type"), expr("us div 86400000000").as("d"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      daily
        .withColumn("naive", lag(col("v"), 1).over(w))
        .withColumn("snaive", lag(col("v"), 7).over(w))
        .filter(col("naive").isNotNull && col("snaive").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("v") - col("naive"))), 4).as("mae_naive"),
          round(avg(abs(col("v") - col("snaive"))), 4).as("mae_snaive"))
        .withColumn("snaive_better",
          when(col("mae_snaive") < col("mae_naive"), 1L).otherwise(0L))
        .orderBy(col("event_type"))
    }),

    "q260_cohen_kappa" -> ((s, dir) => {
      // inter-labeler agreement: two weak labelers (lang tag vs printable-
      // ASCII ratio) scored with Cohen's kappa — observed agreement
      // corrected for chance from the marginals, all from ONE confusion-
      // count aggregate. The ASCII class is the literal [ -~] range,
      // identical in Java regex and RE2.
      val lab = t(s, dir, "documents")
        .select(when(col("lang") === "en", 1).otherwise(0).as("a"),
          when(length(regexp_replace(col("text"), "[^ -~]", ""))
            .cast("double") / length(col("text")).cast("double") > 0.9, 1)
            .otherwise(0).as("b"))
      lab.agg(count(lit(1)).as("n"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round((col("n11") + col("n00")).cast("double") / col("n").cast("double"),
            6).as("po"),
          round(((col("n11") + col("n10")).cast("double") *
            (col("n11") + col("n01")).cast("double") +
            (col("n01") + col("n00")).cast("double") *
            (col("n10") + col("n00")).cast("double")) /
            (col("n").cast("double") * col("n").cast("double")), 6).as("pe"))
        .withColumn("kappa", round((col("po") - col("pe")) /
          (lit(1.0) - col("pe")), 6))
    }),

    "q261_gain_curve" -> ((s, dir) => {
      // cumulative-gains table for the q138 classifier: corpus ranked by
      // ROUNDED score (6 dp — unrounded ulp ties would let engines
      // disagree on the decile boundary), deciles via the two-phase
      // global ranker (no whole-table window), cumulative positive share
      // and lift per decile.
      val (_, _, wts) = classifierModel(s, dir)
      val len = length(col("text")).cast("double")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(wts(0)) +
          lit(wts(1)) * (len / 100.0) +
          lit(wts(2)) * ((len - length(regexp_replace(col("text"), " ", ""))
            .cast("double")) / len) +
          lit(wts(3)) * ((len - length(regexp_replace(col("text"), "[0-9]", ""))
            .cast("double")) / len)))), 6).as("p"))
      val ranked = graft.ops.PrefixSum.globalRank(scored,
        Seq(col("p").desc, col("doc_id")), "rk")
      val tot = ranked.agg(count(lit(1)).as("nt"), sum(col("y")).as("pt"))
      val byDec = ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rk - 1) * 10) div nt"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          first(col("nt")).as("nt"), first(col("pt")).as("pt"))
      val wc = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec
        .withColumn("cum_n", sum(col("n")).over(wc))
        .withColumn("cum_pos", sum(col("n_pos")).over(wc))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("cum_pos").cast("double") / col("pt").cast("double"), 6)
            .as("cum_gain"),
          round((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
            (col("pt").cast("double") / col("nt").cast("double")), 4)
            .as("lift"))
        .orderBy(col("decile"))
    }),

    "q262_hill_tail" -> ((s, dir) => {
      // heavy-tail diagnosis: the Hill estimator over the top 100 order
      // values — gamma = mean ln(x_i / x_ref) against the rank-101
      // reference, tail index alpha = 1/gamma. Ranking runs through the
      // two-phase global ranker on (exact cents desc, key) so the top
      // set is total-ordered on any engine.
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      val ranked = graft.ops.PrefixSum.globalRank(o,
        Seq(col("cents").desc, col("o_orderkey")), "rk")
        .filter(col("rk") <= 101)
        .materialize  // reference row + the top-100 aggregate
      val ref = ranked.filter(col("rk") === 101)
        .select(col("cents").as("ref_cents"))
      ranked.filter(col("rk") <= 100)
        .crossJoin(broadcast(ref))
        .agg(count(lit(1)).as("k"),
          first(col("ref_cents")).as("x_ref_cents"),
          avg(log(col("cents").cast("double") / col("ref_cents").cast("double")))
            .as("gamma_raw"))
        .select(col("k"), col("x_ref_cents"),
          round(col("gamma_raw"), 6).as("hill_gamma"),
          round(lit(1.0) / col("gamma_raw"), 4).as("tail_alpha"))
    }),

    "q263_kendall_tau" -> ((s, dir) => {
      // rank stability: Kendall's tau between brand revenue rankings in
      // 1995 and 1996 — concordant minus discordant brand pairs over the
      // bounded brand table (RBO's classic cousin, q161). Exact cents,
      // total-ordered ranks, one self-join over <= |brands|^2 rows.
      val byYear = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
      val w = Window.partitionBy(col("yr"))
        .orderBy(col("cents").desc, col("p_brand"))
      val rk = byYear.withColumn("r", row_number().over(w))
      val r95 = rk.filter(col("yr") === 1995)
        .select(col("p_brand"), col("r").as("ra"))
      val r96 = rk.filter(col("yr") === 1996)
        .select(col("p_brand"), col("r").as("rb"))
      val both = r95.join(r96, "p_brand").materialize
      val x = both.select(col("p_brand").as("b1"), col("ra").as("ra1"),
        col("rb").as("rb1"))
      val y = both.select(col("p_brand").as("b2"), col("ra").as("ra2"),
        col("rb").as("rb2"))
      x.join(y, col("b1") < col("b2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2")) > 0,
            1L).otherwise(0L)).as("concordant"),
          sum(when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2")) < 0,
            1L).otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          round((col("concordant") - col("discordant")).cast("double") /
            col("n_pairs").cast("double"), 6).as("kendall_tau"))
    }),

    "q264_weighted_ess" -> ((s, dir) => {
      // effective sample size under the q233 temperature-0.5 language
      // weights: ESS = (Σw)²/Σw² — how much of the corpus the rebalanced
      // mixture actually uses. Weights broadcast per language; one
      // weighted aggregate.
      val cnt = t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).cast("double").as("nn"),
        sum(sqrt(col("n").cast("double"))).as("ssq"))
      val wts = cnt.crossJoin(broadcast(tot))
        .select(col("lang"),
          (col("nn") / col("ssq") / sqrt(col("n").cast("double"))).as("w"))
      t(s, dir, "documents").select(col("lang"))
        .join(broadcast(wts), "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"))
        .select(col("n_docs"),
          round(col("sw") * col("sw") / col("sww"), 4).as("ess"),
          round(col("sw") * col("sw") / col("sww") /
            col("n_docs").cast("double"), 6).as("ess_ratio"))
    }),

    "q265_mde_power" -> ((s, dir) => {
      // experiment-design pre-flight: the minimum detectable effect for
      // the q179-style two-proportion test at the CURRENT segment sizes,
      // at 80% and 90% power (z constants literal) — the number that says
      // whether running the test is worth it. One conditional aggregate.
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)
          .as("arm"),
          when(col("c_acctbal") > 5000.0, 1L).otherwise(0L).as("hit"))
      c.agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n2"),
          sum(col("hit")).as("hits"), count(lit(1)).as("n"))
        .select(col("n1"), col("n2"),
          round(col("hits").cast("double") / col("n").cast("double"), 6)
            .as("pooled_rate"),
          round(lit(1.96 + 0.8416) *
            sqrt((col("hits").cast("double") / col("n").cast("double")) *
              (lit(1.0) - col("hits").cast("double") / col("n").cast("double")) *
              (lit(1.0) / col("n1").cast("double") +
                lit(1.0) / col("n2").cast("double"))), 6).as("mde_80"),
          round(lit(1.96 + 1.2816) *
            sqrt((col("hits").cast("double") / col("n").cast("double")) *
              (lit(1.0) - col("hits").cast("double") / col("n").cast("double")) *
              (lit(1.0) / col("n1").cast("double") +
                lit(1.0) / col("n2").cast("double"))), 6).as("mde_90"))
    }),

    "q266_design_effect" -> ((s, dir) => {
      // clustered-sampling design effect: user-level clustering of event
      // values via one-way ANOVA — ICC from between/within mean squares
      // (unequal cluster sizes use the n0 correction), DEFF = 1+(n0-1)ICC.
      // Two counts-only phases: per-user moments, then one closed-form
      // reduction.
      val u = events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("double").as("ni"), sum(col("value")).as("si"),
          sum(col("value") * col("value")).as("qi"))
      u.agg(sum(col("ni")).as("nn"), count(lit(1)).cast("double").as("k"),
          sum(col("ni") * col("ni")).as("n2"), sum(col("si")).as("s"),
          sum(col("qi")).as("q"),
          sum(col("si") * col("si") / col("ni")).as("sb"))
        .select(col("nn").cast("long").as("n_events"),
          col("k").cast("long").as("n_users"),
          ((col("q") - col("sb")) / (col("nn") - col("k"))).as("msw"),
          ((col("sb") - col("s") * col("s") / col("nn")) / (col("k") - 1))
            .as("msb"),
          ((col("nn") - col("n2") / col("nn")) / (col("k") - 1)).as("n0"))
        .select(col("n_events"), col("n_users"), round(col("n0"), 4).as("n0"),
          round((col("msb") - col("msw")) /
            (col("msb") + (col("n0") - 1) * col("msw")), 6).as("icc"),
          round(lit(1.0) + (col("n0") - 1) *
            ((col("msb") - col("msw")) /
              (col("msb") + (col("n0") - 1) * col("msw"))), 4).as("deff"))
    }),

    "q267_neyman_allocation" -> ((s, dir) => {
      // stratified-sampling design: Neyman allocation of a 100-doc budget
      // across languages proportional to N_l * sd_l (sd from EXACT integer
      // n_chars sums, so both engines derive identical doubles). One
      // per-stratum aggregate + a broadcast normalizer.
      val st = t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"),
          sum(col("n_chars") * col("n_chars")).as("q"))
        .withColumn("sd", sqrt((col("q") - col("s") * col("s") /
          col("n")).cast("double") / (col("n") - 1).cast("double")))
      val tot = st.agg(sum(col("n").cast("double") * col("sd")).as("z"))
      st.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"), round(col("sd"), 4).as("sd"),
          round(col("n").cast("double") * col("sd") / col("z"), 6)
            .as("neyman_share"),
          expr("CAST(floor(100 * (CAST(n AS DOUBLE) * sd / z) + 0.5) AS BIGINT)")
            .as("alloc_100"))
        .orderBy(col("lang"))
    }),

    "q268_spearman" -> ((s, dir) => {
      // rank-correlation cousin of Kendall q263: Spearman rho between
      // per-supplier revenue and shipped quantity. Both rankings run
      // through the two-phase global ranker on (exact integer measure,
      // suppkey) so the total order — and hence every rank difference —
      // is integer-identical on any engine; rho = 1 - 6*sum(d^2) /
      // (n(n^2-1)) from exact longs, floats only in the final division.
      val per = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * " +
          "(1 - l_discount) * 100 + 0.5) AS BIGINT)")).as("rev_cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .materialize  // feeds both rankings
      val rx = graft.ops.PrefixSum.globalRank(per,
          Seq(col("rev_cents").desc, col("l_suppkey")), "rx")
        .select(col("l_suppkey"), col("rx"))
      val ry = graft.ops.PrefixSum.globalRank(
          per.select(col("l_suppkey"), col("qty")),
          Seq(col("qty").desc, col("l_suppkey")), "ry")
        .select(col("l_suppkey").as("sk"), col("ry"))
      rx.join(ry, col("l_suppkey") === col("sk"))
        .agg(count(lit(1)).as("n"),
          sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
        .select(col("n"), col("d2").as("sum_d2"),
          round(lit(1.0) - lit(6.0) * col("d2").cast("double") /
            (col("n").cast("double") *
              (col("n").cast("double") * col("n").cast("double") - 1.0)), 6)
            .as("spearman_rho"))
    }),

    "q269_welch_ttest" -> ((s, dir) => {
      // Welch's unequal-variance t-test on account balance between the
      // BUILDING and MACHINERY segments: moments from exact integer cents
      // (sum, sum-of-squares as longs) so both engines derive identical
      // doubles; t-statistic + Welch-Satterthwaite degrees of freedom in
      // one conditional aggregate — the mean-scale companion of the
      // two-proportion z gauge (q179) and the MDE pre-flight (q265).
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)
          .as("arm"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      c.agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s1"),
          sum(when(col("arm") === 1, col("cents") * col("cents"))
            .otherwise(0L)).as("q1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s2"),
          sum(when(col("arm") === 0, col("cents") * col("cents"))
            .otherwise(0L)).as("q2"))
        .select(col("n1"), col("n2"),
          (col("s1").cast("double") / col("n1")).as("m1"),
          (col("s2").cast("double") / col("n2")).as("m2"),
          ((col("q1").cast("double") - col("s1").cast("double") *
            col("s1").cast("double") / col("n1")) / (col("n1") - 1))
            .as("v1"),
          ((col("q2").cast("double") - col("s2").cast("double") *
            col("s2").cast("double") / col("n2")) / (col("n2") - 1))
            .as("v2"))
        .select(col("n1"), col("n2"),
          round(col("m1") / 100.0, 4).as("mean_building"),
          round(col("m2") / 100.0, 4).as("mean_machinery"),
          round((col("m1") - col("m2")) /
            sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6)
            .as("welch_t"),
          round(pow(col("v1") / col("n1") + col("v2") / col("n2"), 2.0) /
            (pow(col("v1") / col("n1"), 2.0) / (col("n1") - 1) +
              pow(col("v2") / col("n2"), 2.0) / (col("n2") - 1)), 2)
            .as("welch_df"))
    }),

    "q270_js_divergence" -> ((s, dir) => {
      // distribution-drift gauge: Jensen-Shannon divergence between the
      // language mix of the even-doc_id and odd-doc_id corpus halves.
      // One joint conditional aggregate per lang (0-count terms contribute
      // 0 by the p*ln(p/m) limit), totals folded back as a 1-row
      // broadcast; exact integer counts -> identical doubles. Bounded by
      // |langs|, symmetric and finite unlike raw KL.
      val per = t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("cb"))
        .materialize  // feeds the totals row and the per-lang terms
      val tot = per.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val terms = per.crossJoin(broadcast(tot))
        .select((col("ca").cast("double") / col("na")).as("p"),
          (col("cb").cast("double") / col("nb")).as("q"))
        .select(col("p"), col("q"),
          ((col("p") + col("q")) / 2.0).as("m"))
        .select(
          when(col("p") > 0.0, col("p") * log(col("p") / col("m")))
            .otherwise(0.0).as("tp"),
          when(col("q") > 0.0, col("q") * log(col("q") / col("m")))
            .otherwise(0.0).as("tq"))
      terms.agg(count(lit(1)).as("n_langs"),
          round((sum(col("tp")) + sum(col("tq"))) / 2.0, 6).as("js_nats"))
        .select(col("n_langs"), col("js_nats"),
          round(col("js_nats") / math.log(2.0), 6).as("js_bits"))
    }),

    "q271_bh_fdr" -> ((s, dir) => {
      // multiple-testing control: per-segment two-proportion z-tests
      // (segment vs rest, hit = acctbal > 5000) -> normal p-values via the
      // Abramowitz-Stegun 7.1.26 erf polynomial (LITERAL constants, so
      // both engines evaluate the identical expression tree) ->
      // Benjamini-Hochberg at alpha = 0.10: reject p_(i) <= i/m * alpha up
      // to the largest satisfying rank. Counts are one conditional
      // aggregate; the BH cutoff folds back as a 1-row broadcast.
      val tot = t(s, dir, "customer")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("c_acctbal") > 5000.0, 1L).otherwise(0L))
            .cast("double").as("h"))
      val per = t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("double").as("n1"),
          sum(when(col("c_acctbal") > 5000.0, 1L).otherwise(0L))
            .cast("double").as("h1"))
        .crossJoin(broadcast(tot))
        .select(col("c_mktsegment"), col("n1"),
          (col("h") / col("n")).as("pp"),
          ((col("h1") / col("n1") - (col("h") - col("h1")) /
            (col("n") - col("n1"))) /
            sqrt((col("h") / col("n")) * (lit(1.0) - col("h") / col("n")) *
              (lit(1.0) / col("n1") +
                lit(1.0) / (col("n") - col("n1"))))).as("z"))
      // p = 2*(1 - Phi(|z|)) = 1 - erf(|z|/sqrt(2)), and with the A&S
      // 7.1.26 polynomial erf(x) ~= 1 - poly(t)*exp(-x^2) that collapses
      // to p = poly(t)*exp(-x^2) — computed DIRECTLY (not via 1-(1-...),
      // which double-rounds small p) with left-associated products so the
      // oracle's expression tree is bit-identical.
      val x = abs(col("z")) / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val withP = per.select(col("c_mktsegment"), col("z"),
          ((lit(0.254829592) * tt - lit(0.284496736) *
            tt * tt + lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
            tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
            exp(-x * x)).as("p"))
      val ranked = graft.ops.PrefixSum.globalRank(withP,
          Seq(col("p"), col("c_mktsegment")), "rk")
        .withColumn("m", lit(5.0))
        .withColumn("bh_crit", col("rk").cast("double") / col("m") * 0.10)
        .materialize  // feeds the cutoff row and the per-test verdicts
      val cutoff = ranked.filter(col("p") <= col("bh_crit"))
        .agg(coalesce(max(col("rk")), lit(0L)).as("k"))
      ranked.crossJoin(broadcast(cutoff))
        .select(col("c_mktsegment"), round(col("z"), 4).as("z"),
          round(col("p"), 6).as("p_two_sided"), col("rk").as("p_rank"),
          round(col("bh_crit"), 4).as("bh_crit"),
          (col("rk") <= col("k")).as("rejected"))
        .orderBy(col("c_mktsegment"))
    }),

    "q272_burstiness" -> ((s, dir) => {
      // traffic-shape gauge: per-event-type burstiness B = (sd - mean) /
      // (sd + mean) of per-user inter-arrival times (B -> -1 periodic,
      // 0 Poisson, +1 bursty). Gaps in EXACT integer minutes (micros div,
      // no overflow under ANSI at any sf) from a per-(user,type) lag
      // window — partitioned by the stream key, never a global sort;
      // moments from exact long sums, floats only in the final statistic.
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"),
          lag(col("ts"), 1).over(w).as("prev_ts"))
        .filter(col("prev_ts").isNotNull)
        .select(col("event_type"),
          expr("(unix_micros(ts) - unix_micros(prev_ts)) div 60000000")
            .as("gap_min"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_min")).as("sg"),
          sum(col("gap_min") * col("gap_min")).as("qg"))
        .filter(col("n_gaps") > 1)
        .select(col("event_type"), col("n_gaps"),
          (col("sg").cast("double") / col("n_gaps")).as("mu"),
          sqrt((col("qg").cast("double") - col("sg").cast("double") *
            col("sg").cast("double") / col("n_gaps")) /
            (col("n_gaps") - 1)).as("sd"))
        .select(col("event_type"), col("n_gaps"),
          round(col("mu"), 4).as("mean_gap_min"),
          round(col("sd"), 4).as("sd_gap_min"),
          round((col("sd") - col("mu")) / (col("sd") + col("mu")), 6)
            .as("burstiness"))
        .orderBy(col("event_type"))
    }),

    "q273_cramers_v" -> ((s, dir) => {
      // categorical-association audit: Cramér's V between customer nation
      // and market segment. Joint counts partial-aggregate once; margins
      // RE-AGGREGATE the 125-row joint table (no second scan); the full
      // r x c grid (zero cells contribute their expected count) comes from
      // a margin cross join left-joined back to the observed cells — all
      // broadcast-sized. Exact integer counts -> identical doubles.
      val joint = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
        .materialize  // margins + observed lookup both read it
      val rm = joint.groupBy(col("c_nationkey"))
        .agg(sum(col("o")).as("rn"))
      val cm = joint.groupBy(col("c_mktsegment"))
        .agg(sum(col("o")).as("cn"))
      val tot = joint.agg(sum(col("o")).cast("double").as("n"),
        countDistinct(col("c_nationkey")).as("r"),
        countDistinct(col("c_mktsegment")).as("c"))
      val grid = rm.crossJoin(cm)
        .join(joint, Seq("c_nationkey", "c_mktsegment"), "left")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("r"), col("c"),
          coalesce(col("o"), lit(0L)).cast("double").as("obs"),
          (col("rn").cast("double") * col("cn").cast("double") / col("n"))
            .as("e"))
      grid.agg(first(col("n")).cast("long").as("n"),
          first(col("r")).as("n_nations"), first(col("c")).as("n_segments"),
          sum((col("obs") - col("e")) * (col("obs") - col("e")) / col("e"))
            .as("chi2"),
          first((col("r") - 1) * (col("c") - 1)).as("dof"))
        .select(col("n"), col("n_nations"), col("n_segments"), col("dof"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("chi2") / (col("n").cast("double") *
            least(col("n_nations") - 1, col("n_segments") - 1)
              .cast("double"))), 6).as("cramers_v"))
    }),

    "q274_heaps_law" -> ((s, dir) => {
      // vocabulary-growth law: Heaps exponent beta (V ~ K * N^beta) from
      // 10 corpus checkpoints in doc_id order. Measured over word
      // TRIGRAMS, not unigrams: the synthetic corpus has a ~31-word
      // closed vocabulary that saturates at the first checkpoint (a
      // degenerate fit whose slope is a ±1e-14 rounding residual — the
      // r3 signed-zero flake); trigram vocabulary (31^3 possible) grows
      // through all 10 checkpoints, so beta is genuinely positive and
      // the fit measures something. The shingle table collapses to
      // per-doc counts and per-token FIRST-occurrence docs (two partial
      // aggs, no re-scan); each checkpoint's (N, V) then comes from a
      // 10-row broadcast grid joined against those bounded count tables —
      // cumulative work without any global running state. ln-ln OLS
      // closed form, integer checkpoint arithmetic ((k*n+9) div 10) so
      // both engines pick identical cut docs. `+ 0.0` after round()
      // normalizes IEEE -0.0 to +0.0 on both engines. Companion to
      // Zipf q189.
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), TF.normTokens(col("text")).as("a"))
        .filter(size(col("a")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(a) - 3), " +
            "i -> concat(a[i], ' ', a[i+1], ' ', a[i+2]))")).as("tokn"))
        .materialize  // per-doc counts + first-occurrence both read it
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val ranked = graft.ops.PrefixSum.globalRank(
        t(s, dir, "documents").select(col("doc_id")),
        Seq(col("doc_id")), "rk")
      val cps = s.range(1, 11).toDF("k")
        .crossJoin(broadcast(nd))
        .select(col("k"), expr("(k * nd + 9) div 10").as("cp_rk"))
        .join(ranked, col("cp_rk") === col("rk"))
        .select(col("k"), col("doc_id").as("cp"))
      val dt = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("tc"))
      val ft = tok.groupBy(col("tokn")).agg(min(col("doc_id")).as("fd"))
      val nk = dt.crossJoin(broadcast(cps))
        .filter(col("doc_id") <= col("cp"))
        .groupBy(col("k")).agg(sum(col("tc")).as("nn"))
      val vk = ft.crossJoin(broadcast(cps))
        .filter(col("fd") <= col("cp"))
        .groupBy(col("k")).agg(count(lit(1)).as("vv"))
      nk.join(broadcast(vk), "k")
        .select(log(col("nn").cast("double")).as("x"),
          log(col("vv").cast("double")).as("y"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_points"),
          (round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6) + lit(0.0))
            .as("heaps_beta"),
          (round(exp((col("sy") - col("sx") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
             (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n")),
            4) + lit(0.0)).as("heaps_k"))
        .withColumn("beta_positive",
          (col("heaps_beta") > 0).cast("long"))
    }),

    "q275_hurst_exponent" -> ((s, dir) => {
      // long-range-dependence gauge: Hurst exponent of the daily revenue
      // series by the aggregated-variance method — variance of block-mean
      // revenue at block sizes m in {1,2,4,8,16}, slope of ln Var(m) vs
      // ln m = 2H-2. Daily cents collapse to whole units and are CENTERED
      // by the integer global mean (shift leaves variance unchanged)
      // before squaring; the squared-block-sum moment runs in DECIMAL
      // (the f30 relational scale-up overflowed its long sum) and drops
      // to double in the variance composition — bit-exact below 2^53
      // (every oracle sf). The day-grain series is calendar-bounded
      // (~90 rows), so its index window is fine. Incomplete trailing
      // blocks are dropped.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS " +
          "BIGINT)) div 100 AS BIGINT)").as("units"))
      val st = daily.agg(sum(col("units")).as("tot"),
        count(lit(1)).as("n"))
      val idx = daily
        .withColumn("i", row_number().over(Window.orderBy(col("day")))
          .cast("long"))
        .crossJoin(broadcast(st))
        .select(col("i"), (col("units") - expr("tot div n")).as("c"))
      val blocks = idx
        .select(col("i"), col("c"),
          explode(array(lit(1L), lit(2L), lit(4L), lit(8L), lit(16L)))
            .as("m"))
        .groupBy(col("m"), expr("(i - 1) div m").as("blk"))
        .agg(count(lit(1)).as("cnt"), sum(col("c")).as("bs"))
        .filter(col("cnt") === col("m"))
      val bsD = col("bs").cast("decimal(18,0)")
      blocks.groupBy(col("m"))
        .agg(count(lit(1)).as("kb"), sum(bsD).as("ss"),
          sum(bsD * bsD).as("qq"))
        .select(log(col("m").cast("double")).as("x"),
          log(((col("qq").cast("double") - col("ss").cast("double") *
            col("ss").cast("double") / col("kb")) / (col("kb") - 1)) /
            (col("m").cast("double") * col("m").cast("double"))).as("y"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_scales"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("var_slope"),
          round(lit(1.0) + ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) / 2.0, 4)
            .as("hurst_h"))
    }),

    "q276_runs_test" -> ((s, dir) => {
      // Wald-Wolfowitz runs test for randomness of the daily revenue
      // series around its mean: above/below decided by the EXACT integer
      // comparison cents*n > total (no rational mean materialized), runs
      // counted from a lag over the calendar-bounded day series, then the
      // closed-form normal approximation z = (R - mu_R)/sigma_R from the
      // integer (n1, n2) counts — floats only in the final statistic.
      val daily = dailyOrderCents(s, dir)
      val st = daily.agg(sum(col("cents")).as("tot"),
        count(lit(1)).as("n"))
      val signed = daily.crossJoin(broadcast(st))
        .select(col("day"), col("n"),
          when(col("cents") * col("n") > col("tot"), 1L).otherwise(0L)
            .as("above"))
      val runs = signed
        .withColumn("prev",
          lag(col("above"), 1).over(Window.orderBy(col("day"))))
        .agg(first(col("n")).as("n_days"),
          sum(col("above")).as("n1"),
          (first(col("n")) - sum(col("above"))).as("n2"),
          (sum(when(col("prev").isNull ||
            col("prev") =!= col("above"), 1L).otherwise(0L))).as("r"))
      runs
        .select(col("n_days"), col("n1"), col("n2"), col("r").as("runs"),
          (lit(1.0) + lit(2.0) * col("n1") * col("n2") /
            col("n_days").cast("double")).as("mu"),
          (lit(2.0) * col("n1") * col("n2") *
            (lit(2.0) * col("n1") * col("n2") - col("n_days")) /
            (col("n_days").cast("double") * col("n_days") *
              (col("n_days") - 1))).as("s2"))
        .select(col("n_days"), col("n1"), col("n2"), col("runs"),
          round(col("mu"), 4).as("expected_runs"),
          round((col("runs").cast("double") - col("mu")) / sqrt(col("s2")),
            6).as("z"))
    }),

    "q277_dsir_weights" -> ((s, dir) => {
      // DSIR-style data selection (importance resampling over unigram LM
      // features, Xie et al. 2023 — public method): add-1-smoothed unigram
      // models of the target domain (lang='en') and the raw pool over the
      // shared >=5-count vocabulary; every raw-pool doc scored by its
      // length-normalized log-likelihood ratio; per-language keep rates at
      // the w>0 gate. The vocab/LLR table is a df-bounded aggregate and
      // the scoring pass is one token equi-join (AQE broadcasts it at this
      // scale; at 100 TB it degrades gracefully to a shuffle hash join) —
      // no pairwise work anywhere.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), (col("lang") === "en").as("tgt"),
          explode(TF.normTokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("tok"))
        .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
          sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
        .filter(col("ct") + col("cr") >= 5)
      val sums = counts.agg(count(lit(1)).as("v"), sum(col("ct")).as("nt"),
        sum(col("cr")).as("nr"))
      val llr = counts.crossJoin(broadcast(sums))
        .select(col("tok"),
          (log((col("ct") + 1).cast("double") / (col("nt") + col("v"))) -
            log((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
            .as("llr"))
      val scored = toks.filter(!col("tgt"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .join(llr, Seq("tok"))
        .groupBy(col("doc_id"), col("lang"))
        .agg((sum(col("c") * col("llr")) / sum(col("c"))).as("w"))
      scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_keep"),
          round(avg(col("w")), 6).as("avg_w"))
        .orderBy(col("lang"))
    }),

    "q278_mann_whitney" -> ((s, dir) => {
      // Mann-Whitney U (Wilcoxon rank-sum) comparing BUILDING vs
      // MACHINERY order values — the distribution-free two-sample test.
      // Exact tied-rank machinery in integers: group by exact cents,
      // cumulative counts via the two-phase prefix sum (no global
      // window), average ranks carried as 2x-scaled BIGINTs; floats only
      // in the final tie-corrected normal approximation. Also reports the
      // rank-biserial AUC effect size (U / (n_a * n_b)).
      val pool = t(s, dir, "orders")
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))
            .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY")),
          col("o_custkey") === col("c_custkey"))
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          (col("c_mktsegment") === "BUILDING").as("is_a"))
      val byVal = pool.groupBy(col("cents"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"),
          count(lit(1)).as("cnt"))
      val cum = PrefixSum.groupedRunningSum(
        byVal.withColumn("g", lit(1)), "g", "cents", col("cnt"), "run")
      cum.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(col("na") *
            (lit(2) * (col("run") - col("cnt")) + col("cnt") + 1)).as("rs2"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
            .as("tie_term"))
        .select(col("n_a"), col("n_b"),
          (col("rs2") - col("n_a") * (col("n_a") + 1)).as("u2"),
          col("tie_term"))
        .select(col("n_a"), col("n_b"), col("u2"), col("tie_term"),
          round(col("u2") / lit(2.0) / (col("n_a") * col("n_b")), 6)
            .as("auc"),
          round((col("u2") / lit(2.0) -
              col("n_a") * col("n_b") / lit(2.0)) /
            sqrt(col("n_a") * col("n_b") / lit(12.0) *
              ((col("n_a") + col("n_b") + 1) - col("tie_term") /
                ((col("n_a") + col("n_b")).cast("double") *
                  (col("n_a") + col("n_b") - 1)))), 6).as("z"))
    }),

    "q279_periodogram" -> ((s, dir) => {
      // Discrete-Fourier periodogram of the daily order-count series —
      // the spectral seasonality detector (annual harmonic near k=7 for
      // this ~6.6-year calendar). Residuals are exact integers scaled by
      // D (y_t = D*n_t - total); the day x frequency expansion is
      // calendar-bounded (D<=2400 rows regardless of SF — the only
      // data-sized pass is the daily aggregate); powers are rounded
      // BEFORE the top-5 ranking so float trig can't reorder near-ties
      // across engines. Day index comes from the two-phase global ranker.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val idx = PrefixSum.globalRank(daily, Seq(col("day")), "tpos")
      val st = idx.agg(count(lit(1)).as("d"), sum(col("n")).as("tot"))
      val ks = s.range(1, 367).select(col("id").as("k"))
      val terms = idx.crossJoin(broadcast(st))
        .select(col("tpos"), col("d"),
          (col("n") * col("d") - col("tot")).as("y"))
        .crossJoin(broadcast(ks))
        .select(col("k"), col("d"),
          (col("y").cast("double") / col("d")).as("yc"),
          (lit(2 * math.Pi) * col("k") * col("tpos") / col("d"))
            .as("theta"))
      terms.groupBy(col("k"))
        .agg(first(col("d")).as("d"),
          sum(col("yc") * cos(col("theta"))).as("a"),
          sum(col("yc") * sin(col("theta"))).as("b"))
        .select(col("k"),
          round(col("d").cast("double") / col("k"), 2).as("period_days"),
          round((col("a") * col("a") + col("b") * col("b")) * 2 / col("d"),
            2).as("pwr"))
        .orderBy(col("pwr").desc, col("k")).limit(5)
    }),

    "q280_logrank_test" -> ((s, dir) => {
      // Log-rank test comparing the q177 churn-survival curves of the
      // BUILDING vs MACHINERY segments: per distinct duration, at-risk
      // counts for each group from the same two-phase prefix-sum
      // machinery (chained — one pass for the pooled count, one for the
      // group count), then O-E and the hypergeometric variance summed
      // into the chi-square. Everything is integer ratios until the
      // final statistics; the duration table is calendar-bounded.
      val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val cust = t(s, dir, "orders")
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))
            .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"), col("c_mktsegment"))
        .agg(min(col("o_orderdate")).as("first"),
          max(col("o_orderdate")).as("last"))
        .crossJoin(broadcast(maxD))
        .select(datediff(col("last"), col("first")).cast("long").as("dur"),
          (datediff(col("mx"), col("last")) > 90).as("event"),
          (col("c_mktsegment") === "BUILDING").as("is_a"))
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d_all"),
          sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
          sum(when(col("is_a") && col("event"), 1L).otherwise(0L))
            .as("d_a"))
        .withColumn("__g", lit(1))
      val cum = PrefixSum.groupedRunningSums(byDur, "__g", "dur",
        Seq((col("c_all"), "cum_all"), (col("c_a"), "cum_a")))
      val tot = cum.agg(sum(col("c_all")).as("n_total"),
        sum(col("c_a")).as("n_a_total"))
      val risk = cum.crossJoin(broadcast(tot))
        .select(col("dur"), col("d_all"), col("d_a"),
          col("n_a_total"), (col("n_total") - col("n_a_total")).as("n_b_total"),
          (col("n_total") - (col("cum_all") - col("c_all"))).as("n_r"),
          (col("n_a_total") - (col("cum_a") - col("c_a"))).as("n_ra"))
        .filter(col("d_all") > 0 && col("n_r") > 1)
      risk.agg(first(col("n_a_total")).as("n_a"),
          first(col("n_b_total")).as("n_b"),
          sum(col("d_a")).as("observed_a"),
          sum(col("d_all") * col("n_ra") / col("n_r").cast("double"))
            .as("e1"),
          sum(col("d_all") * (col("n_ra") / col("n_r").cast("double")) *
            (lit(1.0) - col("n_ra") / col("n_r").cast("double")) *
            (col("n_r") - col("d_all")) / (col("n_r") - 1)).as("v1"))
        .select(col("n_a"), col("n_b"), col("observed_a"),
          round(col("e1"), 4).as("expected_a"),
          round(pow(col("observed_a") - col("e1"), 2) / col("v1"), 4)
            .as("chi2"),
          round((col("observed_a") - col("e1")) / sqrt(col("v1")), 4)
            .as("z"))
    }),

    "q281_modularity" -> ((s, dir) => {
      // Newman modularity of the co-purchase graph under the brand
      // partition — "do parts of the same brand co-occur in orders more
      // than chance": per-brand Q contribution w_intra/W - (K_c/2W)^2.
      // Edges come from the q210-style basket-bounded self-join (pairs
      // within one order only — never a global cross product); degrees
      // and intra-community weights are one pass over the symmetric
      // endpoint expansion. The brand lookup joins on p_partkey: `part`
      // grows with scale, so no broadcast hint — the planner
      // auto-broadcasts while the projection fits and falls back to a
      // shuffle join beyond the threshold.
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val brands = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      // materialized: the basket self-join + pair aggregate is the
      // query's dominant cost and is consumed twice (edge-brand join,
      // w_total) — and the symmetric endpoint expansion goes through ONE
      // explode pass instead of unionAll, whose swapped-column branches
      // are canonically distinct subtrees that would re-execute the whole
      // join DAG once each (the r9 Graph/Association lesson, guide §2.4)
      val e0 = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")),
          Seq("l_orderkey"))
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
        .materialize
      val eb = e0
        .join(brands.select(col("p_partkey").as("p1"),
          col("p_brand").as("b1")), Seq("p1"))
        .join(brands.select(col("p_partkey").as("p2"),
          col("p_brand").as("b2")), Seq("p2"))
      val ends = eb.select(explode(array(
          struct(col("b1").as("b"), col("b2").as("other"), col("w")),
          struct(col("b2").as("b"), col("b1").as("other"), col("w"))))
          .as("__e"))
        .select(col("__e.b").as("b"), col("__e.other").as("other"),
          col("__e.w").as("w"))
      val wTot = e0.agg(sum(col("w")).as("w_total"))
      ends.groupBy(col("b"))
        .agg(sum(col("w")).as("k_c"),
          sum(when(col("b") === col("other"), col("w")).otherwise(0L))
            .as("intra2"))
        .crossJoin(broadcast(wTot))
        .select(col("b").as("p_brand"), col("k_c"),
          (col("intra2") / lit(2)).cast("long").as("w_intra"),
          round(col("intra2") / (lit(2.0) * col("w_total")) -
            pow(col("k_c") / (lit(2.0) * col("w_total")), 2), 6)
            .as("q_contrib"))
        .orderBy(col("p_brand"))
    }),

    "q282_abc_xyz" -> ((s, dir) => {
      // ABC-XYZ inventory matrix: parts classed by cumulative revenue
      // share (A<=80%, B<=95%, C) x monthly-demand variability
      // (X: CV<=0.5, Y: CV<=1, Z). Every class decision is EXACT integer
      // arithmetic — revenue cuts as 5*cum<=4*tot / 20*cum<=19*tot over
      // the two-phase rank + prefix sum, CV cuts as 4*(M*SS-S^2)<=S^2
      // with zero months included implicitly (S, SS over observed
      // months, denominator M = corpus months) — so no float can flip a
      // class at any scale.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("mth"),
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("qty"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
      // monthly materialized (feeds the per-part rollup AND the distinct
      // month count — same distinct-mth set as li, one lineitem pass
      // instead of two); parts materialized (feeds rank chain + total)
      val monthly = li.groupBy(col("l_partkey"), col("mth"))
        .agg(sum(col("qty")).as("s_m"), sum(col("cents")).as("c_m"))
        .materialize
      val months = monthly.agg(countDistinct(col("mth")).as("m"))
      val parts = monthly.groupBy(col("l_partkey"))
        .agg(sum(col("s_m")).as("s"),
          sum(col("s_m") * col("s_m")).as("ss"),
          sum(col("c_m")).as("cents"))
        .materialize
      val ranked = PrefixSum.groupedRunningSum(
        PrefixSum.globalRank(parts,
            Seq(col("cents").desc, col("l_partkey")), "rk")
          .withColumn("__g", lit(1)),
        "__g", "rk", col("cents"), "cum")
      val tot = parts.agg(sum(col("cents")).as("ctot"))
      ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(months))
        .select(
          when(lit(5) * col("cum") <= lit(4) * col("ctot"), "A")
            .when(lit(20) * col("cum") <= lit(19) * col("ctot"), "B")
            .otherwise("C").as("abc"),
          when(lit(4) * (col("m") * col("ss") - col("s") * col("s")) <=
              col("s") * col("s"), "X")
            .when(col("m") * col("ss") - col("s") * col("s") <=
              col("s") * col("s"), "Y")
            .otherwise("Z").as("xyz"),
          col("cents"))
        .groupBy(col("abc"), col("xyz"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents"))
          .as("revenue_cents"))
        .orderBy(col("abc"), col("xyz"))
    }),

    "q283_newsvendor" -> ((s, dir) => {
      // Newsvendor stocking levels per brand: Q* = the 75% critical
      // fractile (underage 3 : overage 1) of the daily-demand
      // distribution, picked EXACTLY as the smallest q with 4*cum >= 3*n
      // over per-brand cumulative counts (grouped two-phase prefix sum —
      // the group key rides the range partitioner, so a mega-brand can't
      // funnel one task), then the expected daily mismatch cost at Q*
      // from one integer join-back pass. Floats only in the final
      // per-day average.
      val daily = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("d"))
      val byVal = daily.groupBy(col("p_brand"), col("d"))
        .agg(count(lit(1)).as("cnt"))
      val cum = PrefixSum.groupedRunningSum(byVal, "p_brand", "d",
        col("cnt"), "cum")
      val n = daily.groupBy(col("p_brand")).agg(count(lit(1)).as("n_days"))
      val qstar = cum.join(n, Seq("p_brand"))
        .filter(lit(4) * col("cum") >= lit(3) * col("n_days"))
        .groupBy(col("p_brand")).agg(min(col("d")).as("q_star"))
      byVal.join(qstar, Seq("p_brand"))
        .groupBy(col("p_brand"))
        .agg(first(col("q_star")).as("q_star"),
          sum(col("cnt")).as("n_days"),
          sum(col("cnt") * (lit(3) * greatest(col("d") - col("q_star"),
            lit(0L)) + greatest(col("q_star") - col("d"), lit(0L))))
            .as("cost_total"))
        .select(col("p_brand"), col("n_days"), col("q_star"),
          round(col("cost_total") / col("n_days").cast("double"), 4)
            .as("avg_daily_cost"))
        .orderBy(col("p_brand"))
    }),

    "q284_gumbel_returns" -> ((s, dir) => {
      // Extreme-value sizing: Gumbel fit over monthly maxima of daily
      // revenue (block maxima, method of moments — beta = s*sqrt(6)/pi,
      // mu = xbar - 0.57721...*beta), then the 12- and 60-month return
      // levels mu - beta*ln(-ln(1-1/T)). Maxima are exact integer
      // dollars; the square sum runs in DECIMAL (the f10 relational
      // scale-up overflowed the long n*ss product) and the n*ss - s*s
      // variance composition drops to double at the end — below 2^53
      // (every oracle sf) that composition is still bit-exact, so the
      // block-maxima statistics stay engine-stable.
      val daily = dailyOrderCents(s, dir)
      val blocks = daily
        .groupBy(date_trunc("month", col("day")).as("mth"))
        .agg(max(expr("cents div 100")).as("mx"))
      val mxD = col("mx").cast("decimal(18,0)")
      blocks.agg(count(lit(1)).as("n"), sum(mxD).as("s"),
          sum(mxD * mxD).as("ss"))
        .select(col("n"),
          (col("s").cast("double") / col("n")).as("xbar"),
          sqrt((col("n") * col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double")) /
            (col("n").cast("double") * (col("n") - 1))).as("sd"))
        .select(col("n").as("n_blocks"),
          (col("sd") * sqrt(lit(6.0)) / lit(math.Pi)).as("beta"),
          col("xbar"))
        .select(col("n_blocks"),
          (col("xbar") - lit(0.5772156649015329) * col("beta")).as("mu"),
          col("beta"))
        .select(col("n_blocks"), round(col("mu"), 2).as("gumbel_mu"),
          round(col("beta"), 2).as("gumbel_beta"),
          round(col("mu") - col("beta") *
            log(-log(lit(1.0) - lit(1.0) / 12)), 2).as("rl_12mo"),
          round(col("mu") - col("beta") *
            log(-log(lit(1.0) - lit(1.0) / 60)), 2).as("rl_60mo"))
    }),

    "q285_rdd" -> ((s, dir) => {
      // Sharp regression discontinuity at acctbal = 0: local linear fits
      // on each side of the cutoff (bandwidth 1000 dollars), effect =
      // the jump between the two intercepts. Running variable in exact
      // integer cents, outcome = per-customer order count; the per-side
      // OLS closed form runs over exact long sums (magnitudes bounded so
      // nothing overflows), so the division is the only float — one
      // aggregate pass, no iteration.
      val y = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      val side = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
        .filter(col("x") >= -100000 && col("x") < 100000)
        .join(y, col("c_custkey") === col("o_custkey"), "left")
        .select((col("x") >= 0).as("right"), col("x"),
          coalesce(col("cnt"), lit(0L)).as("yv"))
      val fits = side.groupBy(col("right"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("yv")).as("sy"), sum(col("x") * col("yv")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("right"), col("n"),
          ((col("sy").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sxy")) /
            (col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx"))).as("icpt"),
          ((col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            (col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx"))).as("slope"))
      val l = fits.filter(!col("right"))
        .select(col("n").as("n_left"), col("icpt").as("il"),
          col("slope").as("sl"))
      val r = fits.filter(col("right"))
        .select(col("n").as("n_right"), col("icpt").as("ir"),
          col("slope").as("sr"))
      l.crossJoin(r)
        .select(col("n_left"), col("n_right"),
          round(col("il"), 4).as("intercept_left"),
          round(col("ir"), 4).as("intercept_right"),
          round(lit(1e7) * col("sl"), 4).as("slope_left_e7"),
          round(lit(1e7) * col("sr"), 4).as("slope_right_e7"),
          round(col("ir") - col("il"), 4).as("rd_effect"))
    }),

    "q286_littles_law" -> ((s, dir) => {
      // Little's law consistency gauge over 30-min-gap sessions: exact
      // time-averaged concurrency L (session-microseconds over the span)
      // vs the hourly point-sampled estimate ops dashboards actually
      // compute. The sampler is a sweep-line union (start +1 / end -1 /
      // mark 0 rows, tie priority start<end<mark so a mark counts
      // [start, end) sessions) — one prefix-sum pass, never a
      // sessions x marks join; the mark grid is span-bounded.
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val sess = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("new_sess",
          when(lag(col("us"), 1).over(byUser).isNull ||
            col("us") - lag(col("us"), 1).over(byUser) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("s0"), max(col("us")).as("s1"))
        // materialized: consumed by the span aggregate and the sweep-line
        // deltas, which come from ONE explode pass (the old unionAll's
        // swapped-endpoint branches were canonically distinct subtrees
        // that re-executed the session windows once each)
        .materialize
      val span = sess.agg(min(col("s0")).as("smin"),
        max(col("s1")).as("smax"), count(lit(1)).as("n_sess"),
        sum(col("s1") - col("s0")).as("dur_us"))
      val marks = span.select(explode(sequence(
          expr("(smin + 3599999999L) div 3600000000L"),
          expr("smax div 3600000000L"))).as("h"))
        .select((col("h") * 3600000000L).as("us"), lit(2L).as("pri"),
          lit(0L).as("delta"))
      val deltas = sess.select(explode(array(
          struct(col("s0").as("us"), lit(0L).as("pri"), lit(1L).as("delta")),
          struct(col("s1").as("us"), lit(1L).as("pri"), lit(-1L).as("delta"))))
          .as("__d"))
        .select(col("__d.us").as("us"), col("__d.pri").as("pri"),
          col("__d.delta").as("delta"))
      val swept = PrefixSum.groupedRunningSum(
        marks.unionAll(deltas)
          .select((col("us") * 4 + col("pri")).as("k"), col("pri"),
            col("delta"))
          .withColumn("__g", lit(1)),
        "__g", "k", col("delta"), "open")
      val sampled = swept.filter(col("pri") === 2)
        .agg(count(lit(1)).as("n_marks"),
          avg(col("open").cast("double")).as("l_sampled"))
      span.crossJoin(broadcast(sampled))
        .select(col("n_sess").as("n_sessions"),
          round((col("smax") - col("smin")) / lit(3.6e9), 2)
            .as("span_hours"),
          round(col("n_sess") * lit(3.6e9) /
            (col("smax") - col("smin")).cast("double"), 4)
            .as("lambda_per_hr"),
          round(col("dur_us") / (col("n_sess") * lit(6e7)), 4)
            .as("w_minutes"),
          round(col("dur_us") / (col("smax") - col("smin")).cast("double"),
            4).as("l_exact"),
          round(col("l_sampled"), 4).as("l_sampled"))
    }),

    "q287_shapley_attribution" -> ((s, dir) => {
      // Game-theoretic channel attribution: Shapley values of the four
      // non-purchase channels, coalition value v(S) = purchases by users
      // whose touch-set is contained in S. Users collapse to a 4-bit
      // mask (16 cells), so the subset lattice, marginal contributions
      // and 4! permutation weights are all exact integers over a
      // broadcast-sized table — phi is a single rational rounded at the
      // end. One data-sized pass (the per-user mask aggregate).
      val users = events(s, dir)
        .select(col("user_id"),
          when(col("event_type") === "click", 1L)
            .when(col("event_type") === "error", 2L)
            .when(col("event_type") === "signup", 4L)
            .when(col("event_type") === "view", 8L)
            .otherwise(0L).as("chan"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("purch"))
        .groupBy(col("user_id"))
        .agg(expr("bit_or(chan)").as("mask"), max(col("purch")).as("cv"))
      val cells = users.groupBy(col("mask"))
        .agg(count(lit(1)).as("n_users"), sum(col("cv")).as("conv"))
      val subsets = s.range(0, 16).select(col("id").as("smask"))
      val v = subsets.join(broadcast(cells),
          expr("(mask & smask) = mask"), "left")
        .groupBy(col("smask"))
        .agg(coalesce(sum(col("conv")), lit(0L)).as("v"))
      val channels = s.range(0, 4)
        .select(element_at(array(lit("click"), lit("error"), lit("signup"),
          lit("view")), (col("id") + 1).cast("int")).as("channel"),
          when(col("id") === 0, 1L).when(col("id") === 1, 2L)
            .when(col("id") === 2, 4L).otherwise(8L).as("bit"))
      val vs = v.select(col("smask"), col("v").as("v_s"))
      val vsc = v.select(col("smask").as("cmask"), col("v").as("v_sc"))
      channels.crossJoin(broadcast(vs))
        .filter(col("smask").bitwiseAND(col("bit")) === 0)
        .join(broadcast(vsc),
          col("cmask") === col("smask").bitwiseOR(col("bit")))
        .withColumn("wnum",
          when(expr("bit_count(smask)") === 0, 6L)
            .when(expr("bit_count(smask)") === 3, 6L).otherwise(2L))
        .groupBy(col("channel"))
        .agg(round(sum((col("v_sc") - col("v_s")) * col("wnum")) /
          lit(24.0), 6).as("shapley_conversions"))
        .orderBy(col("channel"))
    }),

    "q288_ipf_raking" -> ((s, dir) => {
      // Survey raking (iterative proportional fitting): the positive-
      // balance customer subsample is raked to the FULL population's
      // segment and region margins, three unrolled IPF rounds over the
      // 5x5 cell table (bounded — everything after the two data-sized
      // counting passes is broadcast arithmetic). Scaling order and
      // operand order are fixed (w * margin / total) so the float
      // trajectory is identical on any engine.
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_mktsegment").as("seg"), col("r_name").as("reg"),
          col("c_acctbal"))
      // ONE data pass builds the 5x5 cell table (population + sample
      // counts); margins and every IPF scaling total are WINDOW sums
      // over that bounded table — a single linear lineage with 25-row
      // exchanges, no join/broadcast stages per round (the join-per-
      // round formulation spent seconds on stage scheduling alone).
      val popCell = geo.groupBy(col("seg"), col("reg"))
        .agg(count(lit(1)).as("n_pop"),
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L))
            .as("n_sample"))
      val wSeg = Window.partitionBy(col("seg"))
      val wReg = Window.partitionBy(col("reg"))
      val cells0 = popCell
        .withColumn("p_seg", sum(col("n_pop")).over(wSeg))
        .withColumn("p_reg", sum(col("n_pop")).over(wReg))
        .filter(col("n_sample") > 0)
        .withColumn("w", lit(1.0))
      val raked = (1 to 3).foldLeft(cells0) { (c, _) =>
        c.withColumn("w", col("w") * col("p_seg") /
            sum(col("n_sample") * col("w")).over(wSeg))
          .withColumn("w", col("w") * col("p_reg") /
            sum(col("n_sample") * col("w")).over(wReg))
      }
      raked
        .select(col("seg").as("c_mktsegment"), col("reg").as("r_name"),
          col("n_sample"), col("n_pop"), round(col("w"), 6).as("weight"),
          round(col("n_sample") * col("w"), 2).as("weighted_n"))
        .orderBy(col("c_mktsegment"), col("r_name"))
    }),

    "q289_iv_wald" -> ((s, dir) => {
      // Instrumental-variable Wald estimator, completing the causal
      // gallery (q229 IPW, q230 DiD, q285 RDD): binary instrument
      // z = even nation, treatment x = heavy buyer (>5 orders), outcome
      // y = lifetime spend. beta_IV = ITT_y / first-stage — every group
      // moment is an exact integer sum, the two divisions are the only
      // floats, fixed operand order on both engines. One aggregate pass
      // after the customer-order rollup.
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"),
          sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("cents"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), (col("c_nationkey") % 2 === 0).as("z"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("z"),
          when(coalesce(col("n_ord"), lit(0L)) > 5, 1L).otherwise(0L)
            .as("x"),
          coalesce(col("cents"), lit(0L)).as("y"))
      val g = base.groupBy(col("z"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"))
      val z1 = g.filter(col("z"))
        .select(col("n").as("n1"), col("sx").as("sx1"), col("sy").as("sy1"))
      val z0 = g.filter(!col("z"))
        .select(col("n").as("n0"), col("sx").as("sx0"), col("sy").as("sy0"))
      z1.crossJoin(z0)
        .select(col("n1").as("n_z1"), col("n0").as("n_z0"),
          round(col("sy1").cast("double") / col("n1") -
            col("sy0").cast("double") / col("n0"), 4).as("itt_y_cents"),
          round(col("sx1").cast("double") / col("n1") -
            col("sx0").cast("double") / col("n0"), 6).as("first_stage"),
          round((col("sy1").cast("double") / col("n1") -
              col("sy0").cast("double") / col("n0")) /
            (col("sx1").cast("double") / col("n1") -
              col("sx0").cast("double") / col("n0")), 4)
            .as("beta_iv_cents"))
    }),

    "q290_item_cf" -> ((s, dir) => {
      // Item-item collaborative filtering: cosine similarity
      // co/sqrt(pop_i*pop_j) over order-basket co-occurrence, top-3
      // neighbors for the 10 most popular parts. The pair pass is the
      // q210 basket-bounded self-join (never a global cross product);
      // popularity and target selection are exact integer ranks; the
      // neighbor ranking orders by ROUNDED cosine with integer
      // tie-breaks so float sqrt can't reorder candidates across
      // engines. The neighbor window is bounded (10 targets).
      // items consumed 3x (popularity + both sides of the co-occurrence
      // join), pop 2x (targets, neighbor popularity) — materialized
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .materialize
      val pop = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("pop"))
        .materialize
      val targets = PrefixSum.globalRank(pop,
          Seq(col("pop").desc, col("l_partkey")), "prk")
        .filter(col("prk") <= 10)
        .select(col("l_partkey").as("tgt"), col("pop").as("pop_t"))
      val co = items.select(col("l_orderkey"), col("l_partkey").as("tgt"))
        .join(broadcast(targets), Seq("tgt"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("nbr")),
          Seq("l_orderkey"))
        .filter(col("nbr") =!= col("tgt"))
        .groupBy(col("tgt"), col("pop_t"), col("nbr"))
        .agg(count(lit(1)).as("co"))
      val scored = co.join(pop.select(col("l_partkey").as("nbr"),
          col("pop").as("pop_n")), Seq("nbr"))
        .select(col("tgt"), col("nbr"), col("co"), col("pop_t"),
          col("pop_n"),
          round(col("co") / sqrt((col("pop_t") * col("pop_n"))
            .cast("double")), 6).as("cosine"))
      val w = Window.partitionBy(col("tgt"))
        .orderBy(col("cosine").desc, col("co").desc, col("nbr"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("tgt").as("p_partkey"), col("rank"),
          col("nbr").as("neighbor"), col("co"), col("cosine"))
        .orderBy(col("p_partkey"), col("rank"))
    }),

    "q291_block_bootstrap" -> ((s, dir) => {
      // Moving-block bootstrap CI for mean daily revenue: 200 replicates
      // of 24 length-7 blocks, block starts from an explicit 31-bit LCG
      // on (rep, block) — identical integer arithmetic on any engine, so
      // the "randomness" is reproducible and oracle-checkable. Replicate
      // sums stay exact BIGINTs; the CI bounds are picked by integer
      // rank over (sum, rep), so no float ever decides an ordering. The
      // only data-sized pass is the daily aggregate + the position
      // equi-join (200*168 bounded rows).
      val daily = dailyOrderCents(s, dir)
      val idx = PrefixSum.globalRank(daily, Seq(col("day")), "tpos")
      val st = idx.agg(count(lit(1)).as("nd"))
      val pos = s.range(1, 201).select(col("id").as("rep"))
        .crossJoin(s.range(0, 24).select(col("id").as("k")))
        .crossJoin(broadcast(st))
        .select(col("rep"), expr(
          "1 + ((1103515245 * (rep * 1009 + k * 9176) + 12345) % " +
            "2147483648) % (nd - 6)").as("start"))
      val expand = pos
        .crossJoin(s.range(0, 7).select(col("id").as("off")))
        .select(col("rep"), (col("start") + col("off")).as("tpos"))
      val repSums = expand.join(idx.select(col("tpos"), col("cents")),
          Seq("tpos"))
        .groupBy(col("rep"))
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("nb"))
      // 200 bounded rows: a plain window is safe here by construction
      val rk = repSums.withColumn("rn",
        row_number().over(Window.orderBy(col("sc"), col("rep"))))
      val ci = rk.agg(
        sum(when(col("rn") === 10, col("sc"))).as("lo"),
        sum(when(col("rn") === 191, col("sc"))).as("hi"),
        sum(col("sc")).as("tot"), count(lit(1)).as("n_reps"),
        first(col("nb")).as("nb"))
      ci.crossJoin(broadcast(st))
        .select(col("nd").as("n_days"), col("n_reps"),
          round(col("tot") / (col("n_reps") * col("nb") * lit(100.0)), 2)
            .as("boot_mean_daily"),
          round(col("lo") / (col("nb") * lit(100.0)), 2).as("ci5_daily"),
          round(col("hi") / (col("nb") * lit(100.0)), 2).as("ci95_daily"))
    }),

    "q292_decision_stump" -> ((s, dir) => {
      // Decision-stump induction — the single CART split step: candidate
      // thresholds are the exact acctbal deciles (integer ranks i*n div
      // 10 from the two-phase ranker), each scored by Gini gain for the
      // heavy-buyer target via one conditional-aggregate pass over the
      // broadcast threshold set (9 rows — the data never self-joins).
      // Gains are rounded before the top-3 ranking; counts stay exact.
      val y = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
        .join(y, col("c_custkey") === col("o_custkey"), "left")
        .select(col("x"),
          when(coalesce(col("n_ord"), lit(0L)) > 5, 1L).otherwise(0L)
            .as("yv"))
      val ranked = PrefixSum.globalRank(base,
        Seq(col("x"), col("yv"), monotonically_increasing_id()), "rk")
      val n = base.agg(count(lit(1)).as("n"), sum(col("yv")).as("pos"))
      val cuts = ranked.crossJoin(broadcast(n))
        .join(broadcast(s.range(1, 10).select(col("id").as("i"))),
          col("rk") === expr("(i * n) div 10"))
        .select(col("x").as("thr")).distinct()
      val splits = base.crossJoin(broadcast(cuts))
        .groupBy(col("thr"))
        .agg(sum(when(col("x") <= col("thr"), 1L).otherwise(0L))
            .as("n_l"),
          sum(when(col("x") <= col("thr"), col("yv")).otherwise(0L))
            .as("p_l"))
      val scored = splits.crossJoin(broadcast(n))
        .select(col("thr"), col("n_l"), col("p_l"),
          (col("n") - col("n_l")).as("n_r"),
          (col("pos") - col("p_l")).as("p_r"), col("n"), col("pos"))
        .filter(col("n_l") > 0 && col("n_r") > 0)
        .select(col("thr"), col("n_l"), col("p_l"), col("n_r"),
          col("p_r"),
          round(
            (lit(1.0) -
              pow(col("pos").cast("double") / col("n"), 2) -
              pow((col("n") - col("pos")).cast("double") / col("n"), 2)) -
            (col("n_l") * (lit(1.0) -
                pow(col("p_l").cast("double") / col("n_l"), 2) -
                pow((col("n_l") - col("p_l")).cast("double") / col("n_l"),
                  2)) +
              col("n_r") * (lit(1.0) -
                pow(col("p_r").cast("double") / col("n_r"), 2) -
                pow((col("n_r") - col("p_r")).cast("double") / col("n_r"),
                  2))) / col("n"), 6).as("gini_gain"))
      // bounded candidate set (<=9 rows): plain window is safe
      scored.withColumn("rank", row_number().over(
          Window.orderBy(col("gini_gain").desc, col("thr"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("rank"), col("thr").as("threshold_cents"),
          col("n_l"), col("p_l"), col("n_r"), col("p_r"),
          col("gini_gain"))
        .orderBy(col("rank"))
    }),

    "q293_energy_distance" -> ((s, dir) => {
      // Energy distance between the ASIA and EUROPE acctbal
      // distributions: 2E|X-Y| - E|X-X'| - E|Y-Y'|, with every pairwise
      // |x-y| sum computed EXACTLY in integers from value-grouped
      // prefix sums (the sorted-ranks identity - no pair enumeration,
      // one chained two-phase prefix-sum pass over the distinct-value
      // table), so the only floats are the three final divisions.
      // Complements KS (q168), JS (q270) and Mann-Whitney (q278).
      val geo = asiaEuropeBalances(s, dir)
      val byVal = geo.groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
        .withColumn("__g", lit(1))
      val cum = Seq[(org.apache.spark.sql.Column, String)](
        (col("ca"), "cca"), (col("cb"), "ccb"),
        (col("v") * col("ca"), "sva"), (col("v") * col("cb"), "svb"))
        .foldLeft(byVal) { case (df, (v, out)) =>
          PrefixSum.groupedRunningSum(df, "__g", "v", v, out)
        }
      val terms = cum.select(col("v"), col("ca"), col("cb"),
        (col("cca") - col("ca")).as("ka"), (col("ccb") - col("cb")).as("kb"),
        (col("sva") - col("v") * col("ca")).as("ta"),
        (col("svb") - col("v") * col("cb")).as("tb"))
      terms.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          sum(col("ca") * (col("v") * col("kb") - col("tb")) +
            col("cb") * (col("v") * col("ka") - col("ta"))).as("sab"),
          sum(col("ca") * (col("v") * col("ka") - col("ta"))).as("saa"),
          sum(col("cb") * (col("v") * col("kb") - col("tb"))).as("sbb"))
        .select(col("n_a"), col("n_b"),
          round(col("sab") / (col("n_a") * col("n_b")).cast("double"), 4)
            .as("e_xy"),
          round(lit(2.0) * col("saa") /
            (col("n_a") * col("n_a")).cast("double"), 4).as("e_xx"),
          round(lit(2.0) * col("sbb") /
            (col("n_b") * col("n_b")).cast("double"), 4).as("e_yy"),
          round(lit(2.0) * col("sab") /
              (col("n_a") * col("n_b")).cast("double") -
            lit(2.0) * col("saa") /
              (col("n_a") * col("n_a")).cast("double") -
            lit(2.0) * col("sbb") /
              (col("n_b") * col("n_b")).cast("double"), 4)
            .as("energy_dist"))
    }),

    "q294_cuped" -> ((s, dir) => {
      // CUPED variance reduction for the events A/B harness (treatment =
      // even user_id): per-user pre-period (first 15 days) spend is the
      // covariate, theta = cov(pre,post)/var(pre) from exact integer-
      // cent sums, adjusted effect = raw ATE - theta * pre-period
      // imbalance, plus the corr^2 variance-reduction factor. One
      // user-level aggregate; every moment is an exact BIGINT.
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr("CAST(floor(value + 0.5) AS BIGINT)").as("dol"))
      val t0 = ev.agg(min(col("us")).as("smin"))
      val users = ev.crossJoin(broadcast(t0))
        .select(col("user_id"),
          when(col("us") < col("smin") + 1296000000000L, col("dol"))
            .otherwise(0L).as("pre"),
          when(col("us") >= col("smin") + 1296000000000L, col("dol"))
            .otherwise(0L).as("post"))
        .groupBy(col("user_id"))
        .agg(sum(col("pre")).as("pre"), sum(col("post")).as("post"))
        .select((col("user_id") % 2 === 0).as("treat"), col("pre"),
          col("post"))
      val mom = users.agg(count(lit(1)).as("n"),
        sum(col("pre")).as("sp"), sum(col("post")).as("sq"),
        sum(col("pre") * col("pre")).as("spp"),
        sum(col("post") * col("post")).as("sqq"),
        sum(col("pre") * col("post")).as("spq"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat"), col("pre")).otherwise(0L)).as("spt"),
        sum(when(col("treat"), col("post")).otherwise(0L)).as("sqt"))
      mom.select(col("nt").as("n_treat"),
          (col("n") - col("nt")).as("n_ctrl"),
          ((col("n") * col("spq") - col("sp") * col("sq")).cast("double") /
            (col("n") * col("spp") - col("sp") * col("sp"))).as("theta"),
          ((col("n") * col("spq") - col("sp") * col("sq")).cast("double") *
            (col("n") * col("spq") - col("sp") * col("sq")) /
            ((col("n") * col("spp") - col("sp") * col("sp"))
              .cast("double") *
              (col("n") * col("sqq") - col("sq") * col("sq"))))
            .as("r2"),
          (col("sqt").cast("double") / col("nt") -
            (col("sq") - col("sqt")).cast("double") /
              (col("n") - col("nt"))).as("ate_raw"),
          (col("spt").cast("double") / col("nt") -
            (col("sp") - col("spt")).cast("double") /
              (col("n") - col("nt"))).as("pre_imb"))
        .select(col("n_treat"), col("n_ctrl"),
          round(col("theta"), 6).as("theta"),
          round(col("r2"), 6).as("var_reduction"),
          round(col("ate_raw"), 2).as("ate_raw_dollars"),
          round(col("ate_raw") - col("theta") * col("pre_imb"), 2)
            .as("ate_cuped_dollars"))
    }),

    "q295_mediation" -> ((s, dir) => {
      // Causal mediation (product-of-coefficients): does account balance
      // drive spend THROUGH order frequency? a = slope(M~X), (b, c') from
      // the closed-form two-regressor OLS of Y on (M, X), indirect = a*b,
      // plus the proportion mediated. All centered moments are exact
      // BIGINTs (x in dollars, y in kilodollars so n*sums stay in long
      // range at any SF); the regression algebra is fixed-order doubles
      // over those exact sums. One aggregate pass.
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("m"),
          sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("ydol"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal + 0.5) AS BIGINT)").as("x"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("x"), coalesce(col("m"), lit(0L)).as("m"),
          expr("coalesce(ydol, 0L) div 1000L").as("y"))
      val mom = base.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("m")).as("sm"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("m") * col("m")).as("smm"),
        sum(col("x") * col("m")).as("sxm"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("m") * col("y")).as("smy"))
      val c = mom.select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("cxx"),
        (col("n") * col("smm") - col("sm") * col("sm")).as("cmm"),
        (col("n") * col("sxm") - col("sx") * col("sm")).as("cxm"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cxy"),
        (col("n") * col("smy") - col("sm") * col("sy")).as("cmy"))
      c.select(col("n"),
          (col("cxm").cast("double") / col("cxx")).as("a"),
          ((col("cxx").cast("double") * col("cmy") -
            col("cxm").cast("double") * col("cxy")) /
            (col("cxx").cast("double") * col("cmm") -
              col("cxm").cast("double") * col("cxm"))).as("b"),
          ((col("cmm").cast("double") * col("cxy") -
            col("cxm").cast("double") * col("cmy")) /
            (col("cxx").cast("double") * col("cmm") -
              col("cxm").cast("double") * col("cxm"))).as("cp"),
          (col("cxy").cast("double") / col("cxx")).as("ctot"))
        .select(col("n"), round(col("a"), 6).as("a_mx"),
          round(col("b"), 6).as("b_ym"),
          round(col("cp"), 6).as("direct"),
          round(col("ctot"), 6).as("total"),
          round(col("a") * col("b"), 6).as("indirect"),
          round(col("a") * col("b") / col("ctot"), 4)
            .as("prop_mediated"))
    }),

    "q296_empirical_bayes" -> ((s, dir) => {
      // Empirical-Bayes shrinkage ranking (beta-binomial): per-part
      // return rates shrunk toward the corpus prior fitted by method of
      // moments on the raw rates, so low-volume parts can't top the
      // ranking on noise. Counts are exact integers; the prior and the
      // shrunk rates are fixed-order doubles rounded BEFORE the top-5
      // ordering (integer tie-breaks). Two aggregate passes, no joins
      // beyond the broadcast prior.
      val parts = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returns"))
        .filter(col("n_lines") >= 5)
      val prior = parts
        .select((col("n_returns").cast("double") / col("n_lines"))
          .as("r"))
        .agg(count(lit(1)).as("np"), avg(col("r")).as("mu"),
          (sum(col("r") * col("r")) / count(lit(1))).as("m2"))
        .select(col("np"), col("mu"),
          (col("m2") - col("mu") * col("mu")).as("v"))
        .select(col("np"), col("mu"),
          (col("mu") * (lit(1.0) - col("mu")) / col("v") - 1).as("k"))
        .select(col("np"), (col("mu") * col("k")).as("alpha"),
          ((lit(1.0) - col("mu")) * col("k")).as("beta"))
      val shrunk = parts.crossJoin(broadcast(prior))
        .select(col("l_partkey"), col("n_lines"), col("n_returns"),
          round(col("n_returns").cast("double") / col("n_lines"), 6)
            .as("raw_rate"),
          round((col("n_returns") + col("alpha")) /
            (col("n_lines") + col("alpha") + col("beta")), 6)
            .as("shrunk_rate"),
          round(col("alpha"), 4).as("prior_alpha"),
          round(col("beta"), 4).as("prior_beta"))
      PrefixSum.globalRank(shrunk,
          Seq(col("shrunk_rate").desc, col("n_lines").desc,
            col("l_partkey")), "rk")
        .filter(col("rk") <= 5)
        .select(col("rk").as("rank"), col("l_partkey"), col("n_lines"),
          col("n_returns"), col("raw_rate"), col("shrunk_rate"),
          col("prior_alpha"), col("prior_beta"))
        .orderBy(col("rank"))
    }),

    "q297_overdispersion" -> ((s, dir) => {
      // Poisson overdispersion audit of daily event counts per type:
      // index of dispersion s^2/mean from exact integer day-count
      // moments — the count-data QA gate (index >> 1 means a Poisson
      // rate model or Poisson-based alerting threshold is wrong for
      // that stream). One grouped aggregate over the per-day rollup.
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("event_type"), col("n_days"), col("total"),
          round(col("total").cast("double") / col("n_days"), 4)
            .as("mean_per_day"),
          round((col("n_days") * col("ss") - col("total") * col("total"))
            .cast("double") /
            (col("n_days").cast("double") * (col("n_days") - 1)), 4)
            .as("variance"),
          round((col("n_days") * col("ss") - col("total") * col("total"))
            .cast("double") /
            (col("n_days").cast("double") * (col("n_days") - 1)) /
            (col("total").cast("double") / col("n_days")), 4)
            .as("dispersion_index"))
        .orderBy(col("event_type"))
    }),

    "q298_pca_2d" -> ((s, dir) => {
      // Closed-form 2-D PCA of (account balance, lifetime spend): the
      // covariance eigenpair from trace/determinant, explained-variance
      // ratio and the first-PC angle 0.5*atan2(2cxy, cxx-cyy). Centered
      // moments are exact BIGINTs (dollar/kilodollar units keep n*sums
      // in long range at any SF, as q295); everything after is a fixed
      // float expression over those exact longs. One aggregate pass.
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("ydol"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal + 0.5) AS BIGINT)").as("x"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("x"), expr("coalesce(ydol, 0L) div 1000L").as("y"))
      val mom = base.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val c = mom.select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("cxx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("cyy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cxy"))
      c.select(col("n"), col("cxx"), col("cyy"), col("cxy"),
          sqrt(pow(col("cxx").cast("double") - col("cyy"), 2) +
            lit(4.0) * col("cxy") * col("cxy")).as("disc"),
          (col("n").cast("double") * (col("n") - 1)).as("den"))
        .select(col("n"),
          round(col("cxy") / sqrt(col("cxx").cast("double") * col("cyy")),
            6).as("corr"),
          round(((col("cxx") + col("cyy")) + col("disc")) /
            (lit(2.0) * col("den")), 4).as("lambda1"),
          round(((col("cxx") + col("cyy")) - col("disc")) /
            (lit(2.0) * col("den")), 4).as("lambda2"),
          round(((col("cxx") + col("cyy")) + col("disc")) /
            (lit(2.0) * (col("cxx") + col("cyy")).cast("double")), 6)
            .as("evr1"),
          round(lit(0.5) * atan2(lit(2.0) * col("cxy"),
            (col("cxx") - col("cyy")).cast("double")) *
            lit(180.0 / math.Pi), 4).as("pc1_angle_deg"))
    }),

    "q299_morans_i" -> ((s, dir) => {
      // Moran's I network autocorrelation: do brands that co-occur in
      // orders have similar price points? Weights = the q281 co-purchase
      // brand graph (off-diagonal), attribute = brand mean line price.
      // The only data-sized passes are the basket pair join and the
      // brand rollup; the I statistic itself runs over the bounded
      // brand x brand table. Expected value -1/(N-1) reported alongside.
      // The brand lookup is unhinted: `part` grows with scale, so the
      // planner picks broadcast vs shuffle join by its own size stats.
      val li = t(s, dir, "lineitem")
      val brands = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val attr = li
        .join(brands, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg((sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS " +
          "BIGINT)")).cast("double") /
          (count(lit(1)) * lit(100.0))).as("price"))
      val xbar = attr.agg(avg(col("price")).as("mu"),
        count(lit(1)).as("nb"))
      val z = attr.crossJoin(broadcast(xbar))
        .select(col("p_brand"), (col("price") - col("mu")).as("z"),
          col("nb"))
      val items = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")),
          Seq("l_orderkey"))
        .filter(col("p1") < col("p2"))
        .join(brands.select(col("p_partkey").as("p1"),
          col("p_brand").as("b1")), Seq("p1"))
        .join(brands.select(col("p_partkey").as("p2"),
          col("p_brand").as("b2")), Seq("p2"))
        .filter(col("b1") =!= col("b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("w"))
      val cross = pairs
        .join(broadcast(z.select(col("p_brand").as("b1"),
          col("z").as("z1"))), Seq("b1"))
        .join(broadcast(z.select(col("p_brand").as("b2"),
          col("z").as("z2"), col("nb"))), Seq("b2"))
        .agg(first(col("nb")).as("nb"),
          (lit(2.0) * sum(col("w"))).as("sw"),
          (lit(2.0) * sum(col("w") * col("z1") * col("z2"))).as("wzz"))
      val den = z.agg(sum(col("z") * col("z")).as("zz"))
      cross.crossJoin(broadcast(den))
        .select(col("nb").as("n_brands"),
          col("sw").cast("long").as("sum_w"),
          round(col("nb") * col("wzz") / (col("sw") * col("zz")), 4)
            .as("morans_i"),
          round(lit(-1.0) / (col("nb") - 1), 4).as("expected_i"))
    }),

    "q300_winners_curse" -> ((s, dir) => {
      // Winner's-curse audit for "pick the best segment" decisions: the
      // top segment by split-A mean order value (orderkey parity split)
      // is re-measured honestly on split B — the gap is the
      // post-selection optimism a naive dashboard ships. Means are exact
      // integer-cent sums divided once; the argmax runs over the five
      // bounded segment rows.
      val seg = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          (col("o_orderkey") % 2 === 0).as("in_a"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
      val bySplit = seg.groupBy(col("segment"))
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("in_a"), col("cents")).otherwise(0L)).as("s_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("s_b"))
        .select(col("segment"), col("n_a"), col("n_b"),
          (col("s_a").cast("double") / col("n_a")).as("mean_a"),
          (col("s_b").cast("double") / col("n_b")).as("mean_b"))
      // 5 bounded segment rows: plain window is safe
      bySplit.withColumn("rk", row_number().over(
          Window.orderBy(col("mean_a").desc, col("segment"))).cast("long"))
        .filter(col("rk") === 1)
        .select(col("segment").as("winner_segment"), col("n_a"),
          col("n_b"), round(col("mean_a"), 2).as("mean_a_cents"),
          round(col("mean_b"), 2).as("mean_b_cents"),
          round(col("mean_a") - col("mean_b"), 2).as("optimism_cents"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q226_sequential_ab" -> {
      val kh = graft.ops.Sampling.keyHashSql("user_id")
      s"""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS d,
         |    ($kh) % 2 AS arm, value AS v
         |  FROM events),
         |daily AS (SELECT d,
         |    sum(CASE WHEN arm = 0 THEN v END) AS sa,
         |    sum(CASE WHEN arm = 0 THEN v * v END) AS ssa,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    sum(CASE WHEN arm = 1 THEN v END) AS sb,
         |    sum(CASE WHEN arm = 1 THEN v * v END) AS ssb,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
         |  FROM ev GROUP BY 1),
         |c AS (SELECT d,
         |    sum(sa) OVER wc AS csa, sum(ssa) OVER wc AS cssa,
         |    sum(na) OVER wc AS cna, sum(sb) OVER wc AS csb,
         |    sum(ssb) OVER wc AS cssb, sum(nb) OVER wc AS cnb
         |  FROM daily
         |  WINDOW wc AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    CURRENT ROW))
         |SELECT d, CAST(cna + cnb AS BIGINT) AS n_total,
         |  round((csa / cna - csb / cnb) /
         |    sqrt((cssa - csa * csa / cna) / (cna - 1) / cna +
         |      (cssb - csb * csb / cnb) / (cnb - 1) / cnb), 4) AS z
         |FROM c WHERE cna > 1 AND cnb > 1 ORDER BY d""".stripMargin
    },

    "q227_watermark_sim" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |w AS (SELECT event_type, us,
        |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        |  FROM e),
        |l AS (SELECT event_type, CAST(wm - us AS DOUBLE) / 1e6 AS late_s
        |  FROM w),
        |grid AS (SELECT CAST(x AS BIGINT) AS delay_s
        |  FROM (VALUES (0), (30), (60), (300), (900)) g(x))
        |SELECT event_type, delay_s,
        |  CAST(sum(CASE WHEN late_s > CAST(delay_s AS DOUBLE) THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_dropped,
        |  round(avg(CASE WHEN late_s > CAST(delay_s AS DOUBLE) THEN 1.0
        |    ELSE 0.0 END), 6) AS drop_rate
        |FROM l CROSS JOIN grid
        |GROUP BY 1, 2 ORDER BY event_type, delay_s""".stripMargin,

    "q228_predicate_correlation" ->
      """WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a1,
        |    CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b1,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS ab1,
        |    CAST(sum(CASE WHEN year(l_shipdate) >= 1995 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a2,
        |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b2,
        |    CAST(sum(CASE WHEN year(l_shipdate) >= 1995 AND l_quantity > 25
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS ab2,
        |    CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a3,
        |    CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b3,
        |    CAST(sum(CASE WHEN l_discount > 0.05 AND l_tax > 0.04
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS ab3
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'returnflag_linestatus' AS predicate_pair,
        |    round(a1 / n, 6) AS sel_a, round(b1 / n, 6) AS sel_b,
        |    round(ab1 / n, 6) AS sel_actual,
        |    round(a1 * b1 / (n * n), 6) AS sel_indep,
        |    round(ab1 * n / (a1 * b1), 4) AS corr_factor FROM a
        |  UNION ALL
        |  SELECT 'shipyear_quantity', round(a2 / n, 6), round(b2 / n, 6),
        |    round(ab2 / n, 6), round(a2 * b2 / (n * n), 6),
        |    round(ab2 * n / (a2 * b2), 4) FROM a
        |  UNION ALL
        |  SELECT 'discount_tax', round(a3 / n, 6), round(b3 / n, 6),
        |    round(ab3 / n, 6), round(a3 * b3 / (n * n), 6),
        |    round(ab3 * n / (a3 * b3), 4) FROM a)
        |ORDER BY predicate_pair""".stripMargin,

    "q229_ipw_balance" ->
      """WITH li AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS tr,
        |    l_quantity AS x
        |  FROM lineitem),
        |stt AS (SELECT rf, ls, avg(CAST(tr AS DOUBLE)) AS e FROM li
        |  GROUP BY 1, 2),
        |w AS (SELECT tr, x,
        |    CASE WHEN tr = 1 THEN 1.0 / e ELSE 1.0 / (1 - e) END AS w
        |  FROM li JOIN stt USING (rf, ls) WHERE e > 0 AND e < 1),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    avg(CASE WHEN tr = 1 THEN x END) AS mt,
        |    avg(CASE WHEN tr = 0 THEN x END) AS mc,
        |    avg(CASE WHEN tr = 1 THEN x * x END) AS qt,
        |    avg(CASE WHEN tr = 0 THEN x * x END) AS qc,
        |    sum(CASE WHEN tr = 1 THEN w END) AS wt,
        |    sum(CASE WHEN tr = 0 THEN w END) AS wc,
        |    sum(CASE WHEN tr = 1 THEN w * x END) AS wxt,
        |    sum(CASE WHEN tr = 0 THEN w * x END) AS wxc,
        |    sum(CASE WHEN tr = 1 THEN w * x * x END) AS wxxt,
        |    sum(CASE WHEN tr = 0 THEN w * x * x END) AS wxxc
        |  FROM w)
        |SELECT n_t, n_c,
        |  round((mt - mc) / sqrt(((qt - mt * mt) + (qc - mc * mc)) / 2.0), 4)
        |    AS smd_before,
        |  round((wxt / wt - wxc / wc) /
        |    sqrt(((wxxt / wt - (wxt / wt) * (wxt / wt)) +
        |      (wxxc / wc - (wxc / wc) * (wxc / wc))) / 2.0), 4)
        |    AS smd_after
        |FROM m""".stripMargin,

    "q230_did" ->
      """WITH cu AS (SELECT c_custkey,
        |    CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END AS treat
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey),
        |o AS (SELECT treat,
        |    CASE WHEN year(o_orderdate) >= 1995 THEN 1 ELSE 0 END AS post,
        |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE)
        |      AS cents
        |  FROM orders JOIN cu ON o_custkey = c_custkey),
        |m AS (SELECT
        |    CAST(count(CASE WHEN treat = 1 AND post = 1 THEN 1 END)
        |      AS BIGINT) AS n_t1,
        |    CAST(count(CASE WHEN treat = 1 AND post = 0 THEN 1 END)
        |      AS BIGINT) AS n_t0,
        |    CAST(count(CASE WHEN treat = 0 AND post = 1 THEN 1 END)
        |      AS BIGINT) AS n_c1,
        |    CAST(count(CASE WHEN treat = 0 AND post = 0 THEN 1 END)
        |      AS BIGINT) AS n_c0,
        |    avg(CASE WHEN treat = 1 AND post = 1 THEN cents END) AS m_t1,
        |    avg(CASE WHEN treat = 1 AND post = 0 THEN cents END) AS m_t0,
        |    avg(CASE WHEN treat = 0 AND post = 1 THEN cents END) AS m_c1,
        |    avg(CASE WHEN treat = 0 AND post = 0 THEN cents END) AS m_c0,
        |    avg(CASE WHEN treat = 1 AND post = 1 THEN cents * cents END)
        |      AS s_t1,
        |    avg(CASE WHEN treat = 1 AND post = 0 THEN cents * cents END)
        |      AS s_t0,
        |    avg(CASE WHEN treat = 0 AND post = 1 THEN cents * cents END)
        |      AS s_c1,
        |    avg(CASE WHEN treat = 0 AND post = 0 THEN cents * cents END)
        |      AS s_c0
        |  FROM o)
        |SELECT n_t1, n_t0, n_c1, n_c0,
        |  round(m_t1 / 100.0, 4) AS mean_treat_post,
        |  round(m_t0 / 100.0, 4) AS mean_treat_pre,
        |  round(m_c1 / 100.0, 4) AS mean_ctrl_post,
        |  round(m_c0 / 100.0, 4) AS mean_ctrl_pre,
        |  round((m_t1 - m_t0 - (m_c1 - m_c0)) / 100.0, 4) AS did,
        |  round(sqrt(
        |    (s_t1 - m_t1 * m_t1) * CAST(n_t1 AS DOUBLE) /
        |      CAST(n_t1 - 1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) +
        |    (s_t0 - m_t0 * m_t0) * CAST(n_t0 AS DOUBLE) /
        |      CAST(n_t0 - 1 AS DOUBLE) / CAST(n_t0 AS DOUBLE) +
        |    (s_c1 - m_c1 * m_c1) * CAST(n_c1 AS DOUBLE) /
        |      CAST(n_c1 - 1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) +
        |    (s_c0 - m_c0 * m_c0) * CAST(n_c0 AS DOUBLE) /
        |      CAST(n_c0 - 1 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) / 100.0, 4)
        |    AS did_se
        |FROM m""".stripMargin,

    "q231_string_agg" ->
      """WITH sup AS (SELECT n_name, s_name, s_acctbal
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |totals AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    round(sum(s_acctbal), 2) AS total_bal
        |  FROM sup GROUP BY 1),
        |top8 AS (SELECT n_name,
        |    string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
        |  FROM (SELECT n_name, s_name, row_number() OVER (
        |      PARTITION BY n_name ORDER BY s_name) AS rn FROM sup)
        |  WHERE rn <= 8 GROUP BY 1)
        |SELECT t.n_name, t.n_suppliers, k.supplier_csv, t.total_bal
        |FROM totals t JOIN top8 k USING (n_name)
        |ORDER BY n_name""".stripMargin,

    "q232_span_corruption" -> {
      val kh = graft.ops.Sampling.keyHashSql("(doc_id * 131 + b)")
      s"""WITH d0 AS (SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT)
         |      AS nt
         |  FROM documents),
         |d AS (SELECT doc_id, lang, nt, nt // 20 AS n_blocks FROM d0),
         |bx AS (SELECT doc_id,
         |    CAST(unnest(generate_series(0, n_blocks - 1)) AS BIGINT) AS b
         |  FROM d WHERE n_blocks > 0),
         |bl AS (SELECT doc_id, ($kh) % 18 AS off FROM bx),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(off) AS BIGINT) AS off_sum
         |  FROM bl GROUP BY 1)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(sum(coalesce(n_spans, 0)) AS BIGINT) AS total_sentinels,
         |  CAST(sum(coalesce(n_spans, 0) * 3) AS BIGINT) AS masked_tokens,
         |  round(CAST(sum(coalesce(n_spans, 0) * 3) AS DOUBLE) /
         |    CAST(sum(nt) AS DOUBLE), 6) AS mask_frac,
         |  CAST(sum(coalesce(off_sum, 0)) AS BIGINT) AS offset_checksum
         |FROM d LEFT JOIN pd USING (doc_id)
         |GROUP BY 1 ORDER BY lang""".stripMargin
    },

    "q233_class_reweight" ->
      """WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
        |    sum(sqrt(CAST(n AS DOUBLE))) AS ssq FROM cnt)
        |SELECT lang, n,
        |  round(nn / ssq / sqrt(CAST(n AS DOUBLE)), 6) AS weight,
        |  round(CAST(n AS DOUBLE) / nn, 6) AS share_before,
        |  round(sqrt(CAST(n AS DOUBLE)) / ssq, 6) AS share_after
        |FROM cnt CROSS JOIN tot ORDER BY lang""".stripMargin,

    "q234_bom_rollup" ->
      """WITH lv AS (SELECT * FROM (VALUES (1, 10), (2, 100), (3, 1000),
        |  (4, 10000), (5, 100000), (6, 1000000)) l(k, divisor)),
        |p AS (SELECT p_partkey AS pk,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM part)
        |SELECT pk // divisor AS anc, CAST(count(*) AS BIGINT) AS n_desc,
        |  CAST(sum(cents) AS BIGINT) AS cost_cents
        |FROM p CROSS JOIN lv WHERE pk // divisor > 0
        |GROUP BY 1 ORDER BY n_desc DESC, anc LIMIT 20""".stripMargin,

    "q235_dp_counts" -> {
      val kh = graft.ops.Sampling.keyHashSql("lid")
      s"""WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |l AS (SELECT lang, n,
         |    CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS lid
         |  FROM cnt),
         |u AS (SELECT lang, n, (($kh) + 0.5) / 4294967296.0 AS u FROM l),
         |lp AS (SELECT lang, n,
         |    -10.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap
         |  FROM u)
         |SELECT lang, n, round(n + lap, 4) AS noisy_n,
         |  round(abs(lap), 4) AS abs_err
         |FROM lp ORDER BY lang""".stripMargin
    },

    "q236_ndcg" -> {
      val qv = "(1, 'spark window agg'), (2, 'vector scan batch'), " +
        "(3, 'customer stream query')"
      s"""WITH ${bm25Ctes(qv)},
         |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM qt GROUP BY 1),
         |dterm AS (SELECT DISTINCT doc_id, term FROM tk),
         |rel AS (SELECT q2.query_id, d.doc_id
         |  FROM qt q2 JOIN dterm d USING (term)
         |  GROUP BY 1, 2
         |  HAVING count(*) = (SELECT n_terms FROM nq WHERE
         |    nq.query_id = q2.query_id)),
         |ntot AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
         |  FROM rel GROUP BY 1),
         |dcg AS (SELECT r.query_id,
         |    sum(CASE WHEN rl.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
         |      AS n_hits,
         |    sum(CASE WHEN rl.doc_id IS NOT NULL THEN
         |      1.0 / log2(CAST(r.rank AS DOUBLE) + 1.0) ELSE 0.0 END) AS dcg
         |  FROM ranked r LEFT JOIN rel rl
         |    ON rl.query_id = r.query_id AND rl.doc_id = r.doc_id
         |  WHERE r.rank <= 10 GROUP BY 1),
         |idcg AS (SELECT n.query_id, n.n_relevant,
         |    sum(1.0 / log2(CAST(i AS DOUBLE) + 1.0)) AS idcg
         |  FROM (SELECT query_id, n_relevant,
         |      unnest(generate_series(1, least(10, n_relevant))) AS i
         |    FROM ntot) n
         |  GROUP BY 1, 2)
         |SELECT CAST(d.query_id AS BIGINT) AS query_id, i.n_relevant,
         |  round(d.n_hits / 10.0, 4) AS p_at_10,
         |  round(CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END, 4)
         |    AS ndcg_at_10
         |FROM dcg d JOIN idcg i ON i.query_id = d.query_id
         |ORDER BY query_id""".stripMargin
    },

    "q237_ordered_set_aggs" ->
      """WITH cnt AS (SELECT l_returnflag AS rf, l_quantity AS q,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |md AS (SELECT rf, q AS mode_qty FROM (SELECT rf, q,
        |    row_number() OVER (PARTITION BY rf ORDER BY c DESC, q) AS rn
        |  FROM cnt) WHERE rn = 1),
        |tot AS (SELECT rf, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |cum AS (SELECT rf, q,
        |    sum(c) OVER (PARTITION BY rf ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cnt),
        |med AS (SELECT c2.rf, min(c2.q) AS median_disc
        |  FROM cum c2 JOIN tot ON tot.rf = c2.rf
        |  WHERE c2.cum * 2 >= tot.n GROUP BY 1)
        |SELECT tot.rf, tot.n, md.mode_qty, med.median_disc
        |FROM tot JOIN md ON md.rf = tot.rf JOIN med ON med.rf = tot.rf
        |ORDER BY tot.rf""".stripMargin,

    "q238_calendar_gallery" ->
      """WITH m AS (SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(y AS INT) AS y, CAST(m AS INT) AS m, n_orders,
        |  CAST((m + 2) // 3 AS INT) AS quarter,
        |  CAST(day(last_day(make_date(y, m, 1))) AS INT) AS days_in_month,
        |  CAST(dayofyear(make_date(y, m, 1)) AS INT) AS doy_first,
        |  CAST(weekofyear(make_date(y, m, 15)) AS INT) AS iso_week_mid
        |FROM m ORDER BY y, m""".stripMargin,

    "q239_scd2_amplification" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    epoch_us(ts) // 86400000000 AS d, event_id
        |  FROM events),
        |ch AS (SELECT CAST(sum(CASE WHEN prev_type IS NULL OR
        |      prev_type <> event_type THEN 1 ELSE 0 END) AS BIGINT)
        |    AS scd2_rows
        |  FROM (SELECT event_type, lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |    FROM ev)),
        |sp AS (SELECT max(d) AS dmax FROM ev),
        |u AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1),
        |sn AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(dmax - d0 + 1) AS BIGINT) AS snapshot_rows
        |  FROM u CROSS JOIN sp)
        |SELECT n_users, scd2_rows, snapshot_rows,
        |  round(CAST(snapshot_rows AS DOUBLE) / CAST(scd2_rows AS DOUBLE), 4)
        |    AS amplification
        |FROM sn CROSS JOIN ch""".stripMargin,

    "q240_zonemap_prune" ->
      """WITH o AS (SELECT
        |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS mpart,
        |    CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) // 86400
        |      AS d
        |  FROM orders),
        |z AS (SELECT mpart, min(d) AS dmin, max(d) AS dmax,
        |    CAST(count(*) AS BIGINT) AS rows_
        |  FROM o GROUP BY 1),
        |preds AS (SELECT * FROM (VALUES ('y1994', 8766, 9130),
        |  ('h1_1995', 9131, 9311), ('m1996_03', 9556, 9586)) p(pred, lo, hi)),
        |scan AS (SELECT pred, lo, hi,
        |    CAST(count(*) AS BIGINT) AS partitions_total,
        |    CAST(sum(CASE WHEN dmin <= hi AND dmax >= lo THEN 1 ELSE 0 END)
        |      AS BIGINT) AS partitions_scanned,
        |    CAST(sum(CASE WHEN dmin <= hi AND dmax >= lo THEN rows_
        |      ELSE 0 END) AS BIGINT) AS rows_scanned,
        |    CAST(sum(rows_) AS BIGINT) AS rows_total
        |  FROM z CROSS JOIN preds GROUP BY 1, 2, 3),
        |act AS (SELECT pred, CAST(count(*) AS BIGINT) AS rows_matching
        |  FROM o CROSS JOIN preds WHERE d >= lo AND d <= hi GROUP BY 1)
        |SELECT s.pred, s.partitions_total, s.partitions_scanned,
        |  s.rows_total, s.rows_scanned, a.rows_matching,
        |  round(1.0 - CAST(s.rows_scanned AS DOUBLE) /
        |    CAST(s.rows_total AS DOUBLE), 6) AS prune_ratio
        |FROM scan s JOIN act a ON a.pred = s.pred
        |ORDER BY s.pred""".stripMargin,

    "q241_join_fanout" -> {
      def edgeSql(name: String, parent: String, pk: String,
                  child: String, fk: String): String =
        s"""SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS n_parents,
           |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_childless,
           |    round(avg(CAST(c AS DOUBLE)), 4) AS avg_fanout,
           |    round(quantile_cont(c, 0.99), 4) AS p99_fanout,
           |    CAST(max(c) AS BIGINT) AS max_fanout
           |  FROM (SELECT coalesce(cc.c, 0) AS c FROM $parent p
           |    LEFT JOIN (SELECT $fk AS k, CAST(count(*) AS BIGINT) AS c
           |      FROM $child GROUP BY 1) cc ON cc.k = p.$pk)""".stripMargin
      Seq(
        edgeSql("orders_lineitem", "orders", "o_orderkey",
          "lineitem", "l_orderkey"),
        edgeSql("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
        edgeSql("supplier_lineitem", "supplier", "s_suppkey",
          "lineitem", "l_suppkey"),
        edgeSql("customer_orders", "customer", "c_custkey",
          "orders", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },

    "q242_rolling_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS f FROM act GROUP BY 1),
        |mx AS (SELECT max(d) AS dmax FROM act),
        |ks AS (SELECT CAST(x AS BIGINT) AS k FROM (VALUES (1), (7), (28))
        |  t(x)),
        |elig AS (SELECT f.user_id, f.f, ks.k FROM f CROSS JOIN ks
        |  CROSS JOIN mx WHERE f.f + ks.k <= mx.dmax),
        |j AS (SELECT e.k, CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END
        |    AS r
        |  FROM elig e LEFT JOIN act a
        |    ON a.user_id = e.user_id AND a.d = e.f + e.k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_eligible,
        |  CAST(sum(r) AS BIGINT) AS n_retained,
        |  round(avg(CAST(r AS DOUBLE)), 6) AS retention_rate
        |FROM j GROUP BY 1 ORDER BY k""".stripMargin,

    "q243_seasonality_strength" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |    sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |tr AS (SELECT event_type, d, v,
        |    avg(v) OVER wt AS trend, count(*) OVER wt AS wn
        |  FROM daily
        |  WINDOW wt AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |detr AS (SELECT event_type, v, (d + 3) % 7 AS dow, v - trend AS detr
        |  FROM tr WHERE wn = 7),
        |dm AS (SELECT event_type, dow, avg(detr) AS sdow FROM detr
        |  GROUP BY 1, 2),
        |r AS (SELECT t.event_type, t.v, t.detr, t.detr - m.sdow AS resid
        |  FROM detr t JOIN dm m ON m.event_type = t.event_type
        |    AND m.dow = t.dow),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    avg(v * v) - avg(v) * avg(v) AS var_v,
        |    avg(detr * detr) - avg(detr) * avg(detr) AS var_d,
        |    avg(resid * resid) - avg(resid) * avg(resid) AS var_r
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(greatest(0.0, 1.0 - var_d / var_v), 4) AS trend_strength,
        |  round(greatest(0.0, 1.0 - var_r / var_d), 4) AS seasonal_strength
        |FROM g ORDER BY event_type""".stripMargin,

    "q244_uncertainty_sample" ->
      s"""WITH $lrCtes,
         |featid AS (SELECT doc_id, 1.0 AS f0,
         |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
         |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(text) AS DOUBLE) AS f2,
         |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3
         |  FROM documents),
         |si AS (SELECT doc_id,
         |    1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))) AS p
         |  FROM featid, w3_ w)
         |SELECT doc_id, round(p, 6) AS p,
         |  round(abs(p - 0.5), 6) AS margin
         |FROM si ORDER BY round(abs(p - 0.5), 6), doc_id
         |LIMIT 20""".stripMargin,

    "q245_broadcast_advisor" -> {
      def adviseSql(name: String, table: String, fixed: Int,
                    strCols: Seq[String]): String = {
        val sb = (strCols.map(c => s"strlen($c)") :+ fixed.toString)
          .mkString(" + ")
        s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum($sb) AS BIGINT) AS est_bytes,
           |    CASE WHEN CAST(sum($sb) AS BIGINT) < 10485760
           |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
           |      AS broadcastable
           |  FROM $table""".stripMargin
      }
      Seq(adviseSql("region", "region", 4, Seq("r_name")),
        adviseSql("nation", "nation", 8, Seq("n_name")),
        adviseSql("supplier", "supplier", 20, Seq("s_name")),
        adviseSql("customer", "customer", 20, Seq("c_name", "c_mktsegment")),
        adviseSql("part", "part", 20, Seq("p_name", "p_brand", "p_type")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "q246_storage_tiering" ->
      """WITH li AS (SELECT
        |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS mpart,
        |    CAST(floor(extract(epoch FROM l_shipdate)) AS BIGINT) // 86400
        |      AS d,
        |    68 + strlen(l_returnflag) + strlen(l_linestatus) AS bytes
        |  FROM lineitem),
        |p AS (SELECT mpart, CAST(count(*) AS BIGINT) AS rows_,
        |    CAST(sum(bytes) AS BIGINT) AS est_bytes, max(d) AS dpm
        |  FROM li GROUP BY 1),
        |g AS (SELECT max(dpm) AS dmax FROM p),
        |tp AS (SELECT CASE WHEN dmax - dpm <= 365 THEN 'hot'
        |    WHEN dmax - dpm <= 730 THEN 'warm' ELSE 'cold' END AS tier,
        |    rows_, est_bytes, dmax - dpm AS age
        |  FROM p CROSS JOIN g)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_partitions,
        |  CAST(sum(rows_) AS BIGINT) AS "rows",
        |  CAST(sum(est_bytes) AS BIGINT) AS est_bytes,
        |  CAST(min(age) AS BIGINT) AS min_age_days,
        |  CAST(max(age) AS BIGINT) AS max_age_days
        |FROM tp GROUP BY 1 ORDER BY tier""".stripMargin,

    "q247_embedding_drift" ->
      """WITH e AS (SELECT label, vec_id % 2 AS half,
        |    CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |cent AS (SELECT label, i,
        |    avg(CASE WHEN half = 0 THEN v END) AS ca,
        |    avg(CASE WHEN half = 1 THEN v END) AS cb
        |  FROM e GROUP BY 1, 2),
        |cnt AS (SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_even,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_odd
        |  FROM embeddings GROUP BY 1),
        |r AS (SELECT label, sum(ca * cb) AS dot, sum(ca * ca) AS na,
        |    sum(cb * cb) AS nb
        |  FROM cent GROUP BY 1)
        |SELECT r.label, c.n_even, c.n_odd,
        |  round(dot / sqrt(na * nb), 6) AS centroid_cosine,
        |  round(sqrt(na / nb), 6) AS norm_ratio
        |FROM r JOIN cnt c ON c.label = r.label ORDER BY r.label""".stripMargin,

    "q248_survivor_policy" ->
      s"""${qualityCteSql("",
             "(SELECT doc_id, text FROM documents UNION ALL " +
             "SELECT doc_id + 100000, substr(text, 21) FROM documents)")},
         |fam AS (SELECT doc_id % 100000 AS fam, doc_id, quality FROM q),
         |gg AS (SELECT fam, arg_min(quality, doc_id) AS minid_q,
         |    max(quality) AS best_q FROM fam GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_families,
         |  CAST(sum(CASE WHEN round(best_q, 6) > round(minid_q, 6)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_differing,
         |  round(avg(minid_q), 6) AS avg_q_minid,
         |  round(avg(best_q), 6) AS avg_q_best,
         |  round(avg(best_q - minid_q), 6) AS avg_gain
         |FROM gg""".stripMargin,

    "q249_semantics_gallery" ->
      """WITH c AS (SELECT nullif(c_nationkey, 3) AS nk FROM customer),
        |jm AS (SELECT 'null_keys_drop_from_join' AS metric,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM c JOIN nation ON nk = n_nationkey),
        |gp AS (SELECT 'null_forms_one_group',
        |    CAST(count(*) AS BIGINT)
        |  FROM (SELECT nk, count(*) FROM c GROUP BY nk)),
        |sc AS (SELECT
        |    CAST(((-7 % 3) + 3) % 3 AS BIGINT) AS pmod_neg,
        |    CAST(trunc(-7.0 / 2) AS BIGINT) AS trunc_div_neg,
        |    CAST(floor(-7.0 / 2) AS BIGINT) AS floor_div_neg,
        |    CAST(sum(CASE WHEN substr(s_name, 100, 10) = '' THEN 1
        |      ELSE 0 END) AS BIGINT) AS oob_substr_empty,
        |    CAST(sum(CASE WHEN least(nullif(s_nationkey, s_nationkey),
        |      s_nationkey) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS least_skips_null
        |  FROM supplier)
        |SELECT * FROM jm
        |UNION ALL SELECT * FROM gp
        |UNION ALL SELECT 'pmod_negative', pmod_neg FROM sc
        |UNION ALL SELECT 'trunc_div_negative', trunc_div_neg FROM sc
        |UNION ALL SELECT 'floor_div_negative', floor_div_neg FROM sc
        |UNION ALL SELECT 'oob_substring_is_empty', oob_substr_empty FROM sc
        |UNION ALL SELECT 'least_skips_nulls', least_skips_null FROM sc
        |ORDER BY metric""".stripMargin,

    "q250_release_manifest" -> {
      def cardSql(name: String, table: String, key: String): String =
        s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(count(DISTINCT $key) AS BIGINT) AS n_distinct_key,
           |    CASE WHEN count(*) = count(DISTINCT $key)
           |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
           |      AS key_unique,
           |    CAST(min($key) AS BIGINT) AS min_key,
           |    CAST(max($key) AS BIGINT) AS max_key
           |  FROM $table""".stripMargin
      Seq(cardSql("region", "region", "r_regionkey"),
        cardSql("nation", "nation", "n_nationkey"),
        cardSql("customer", "customer", "c_custkey"),
        cardSql("supplier", "supplier", "s_suppkey"),
        cardSql("part", "part", "p_partkey"),
        cardSql("orders", "orders", "o_orderkey"),
        cardSql("lineitem", "lineitem", "l_orderkey"),
        cardSql("events", "events", "event_id"),
        cardSql("documents", "documents", "doc_id"),
        cardSql("embeddings", "embeddings", "vec_id"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "q251_array_gallery" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(list_sum(list_transform(embedding[1:4],
        |    x -> CAST(x AS DOUBLE)))), 6) AS avg_head4_sum,
        |  round(avg(list_dot_product(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE))))),
        |    6) AS avg_rev_dot,
        |  round(avg(CAST(list_max(embedding) AS DOUBLE)), 6) AS avg_max
        |FROM embeddings GROUP BY 1 ORDER BY label""".stripMargin,

    "q252_path_entropy" ->
      """WITH ut AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ent AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    ln(CAST(sum(c) AS DOUBLE)) -
        |      sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) /
        |        CAST(sum(c) AS DOUBLE) AS h
        |  FROM ut GROUP BY 1)
        |SELECT CAST(floor(log2(CAST(n AS DOUBLE))) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  round(avg(CAST(n AS DOUBLE)), 4) AS avg_events,
        |  round(avg(h), 6) AS avg_entropy
        |FROM ent GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q253_drawdown" ->
      """WITH daily AS (SELECT
        |    CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) // 86400
        |      AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT d, cents,
        |    max(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS peak
        |  FROM daily)
        |SELECT d AS trough_day, peak AS peak_cents, cents AS trough_cents,
        |  peak - cents AS drawdown_cents,
        |  round(CAST(peak - cents AS DOUBLE) / CAST(peak AS DOUBLE), 6)
        |    AS drawdown_frac
        |FROM p ORDER BY peak - cents DESC, d LIMIT 1""".stripMargin,

    "q254_revenue_waterfall" ->
      """WITH py AS (SELECT l_partkey AS pk, year(l_shipdate) AS yr,
        |    sum(l_quantity) AS q,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS c
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |a AS (SELECT pk, q AS q0, c AS c0, c / q AS p0 FROM py
        |  WHERE yr = 1995),
        |b AS (SELECT pk, q AS q1, c AS c1, c / q AS p1 FROM py
        |  WHERE yr = 1996)
        |SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |  round(sum(c1 - c0) / 100.0, 2) AS delta_total,
        |  round(sum(q0 * (p1 - p0)) / 100.0, 2) AS price_effect,
        |  round(sum(p0 * (q1 - q0)) / 100.0, 2) AS volume_effect,
        |  round(sum((p1 - p0) * (q1 - q0)) / 100.0, 2) AS cross_effect
        |FROM a JOIN b USING (pk)""".stripMargin,

    "q255_dkw_band" ->
      """WITH pr AS (SELECT p_brand, p_retailprice AS v FROM part),
        |r AS (SELECT p_brand, v, row_number() OVER (PARTITION BY p_brand
        |    ORDER BY v) AS rk
        |  FROM pr),
        |nn AS (SELECT p_brand, CAST(max(rk) AS BIGINT) AS n FROM r
        |  GROUP BY 1),
        |x AS (SELECT r.p_brand, r.v, r.rk, nn.n,
        |    sqrt(ln(2.0 / 0.05) / (2.0 * CAST(nn.n AS DOUBLE))) AS eps
        |  FROM r JOIN nn USING (p_brand)),
        |y AS (SELECT *, greatest(1,
        |    CAST(ceil((0.5 - eps) * CAST(n AS DOUBLE)) AS BIGINT)) AS lo_k,
        |    least(n, CAST(ceil((0.5 + eps) * CAST(n AS DOUBLE)) AS BIGINT))
        |      AS hi_k
        |  FROM x)
        |SELECT p_brand, any_value(n) AS n, round(any_value(eps), 6)
        |    AS dkw_eps,
        |  min(CASE WHEN rk >= lo_k THEN v END) AS band_lo,
        |  max(CASE WHEN rk <= hi_k THEN v END) AS band_hi,
        |  round(quantile_cont(v, 0.5), 4) AS median
        |FROM y GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "q256_precedence_matrix" ->
      """WITH ft AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    event_type, min(epoch_us(ts)) AS fus
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(count(*) AS BIGINT) AS n_userdays,
        |  CAST(sum(CASE WHEN a.fus < b.fus THEN 1 ELSE 0 END) AS BIGINT)
        |    AS t1_first,
        |  CAST(sum(CASE WHEN a.fus > b.fus THEN 1 ELSE 0 END) AS BIGINT)
        |    AS t2_first,
        |  CAST(sum(CASE WHEN a.fus = b.fus THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties,
        |  round(CAST(sum(CASE WHEN a.fus < b.fus THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS t1_share
        |FROM ft a JOIN ft b ON a.user_id = b.user_id AND a.d = b.d
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY t1, t2""".stripMargin,

    "q257_price_endings" ->
      """WITH e AS (SELECT
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) % 100
        |      AS ending,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM e)
        |SELECT ending, n, round(CAST(n AS DOUBLE) / nt, 6) AS share,
        |  round(pow(CAST(n AS DOUBLE) - nt / 100.0, 2) / (nt / 100.0), 4)
        |    AS chi2_term
        |FROM e CROSS JOIN tot
        |ORDER BY n DESC, ending LIMIT 10""".stripMargin,

    "q258_breach_streaks" ->
      """WITH daily AS (SELECT
        |    CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) // 86400
        |      AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |thr AS (SELECT avg(cents) * 0.8 AS thr FROM daily),
        |below AS (SELECT d FROM daily CROSS JOIN thr
        |  WHERE CAST(cents AS DOUBLE) < thr),
        |isl AS (SELECT d - row_number() OVER (ORDER BY d) AS grp, d
        |  FROM below),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS len,
        |    min(d) AS start_d, max(d) AS end_d
        |  FROM isl GROUP BY 1),
        |tops AS (SELECT * FROM g ORDER BY len DESC, start_d LIMIT 1),
        |nt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM below)
        |    AS n_below_days,
        |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_streaks)
        |SELECT n_below_days, n_streaks, len AS max_streak_len, start_d,
        |  end_d
        |FROM tops CROSS JOIN nt""".stripMargin,

    "q259_seasonal_naive" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |    sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, v,
        |    lag(v, 1) OVER w AS naive, lag(v, 7) OVER w AS snaive
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    round(avg(abs(v - naive)), 4) AS mae_naive,
        |    round(avg(abs(v - snaive)), 4) AS mae_snaive
        |  FROM l WHERE naive IS NOT NULL AND snaive IS NOT NULL
        |  GROUP BY 1)
        |SELECT event_type, n_days, mae_naive, mae_snaive,
        |  CASE WHEN mae_snaive < mae_naive THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS snaive_better
        |FROM g ORDER BY event_type""".stripMargin,

    "q260_cohen_kappa" ->
      """WITH lab AS (SELECT
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN CAST(length(regexp_replace(text, '[^ -~]', '', 'g'))
        |      AS DOUBLE) / CAST(length(text) AS DOUBLE) > 0.9 THEN 1
        |      ELSE 0 END AS b
        |  FROM documents),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n00
        |  FROM lab),
        |o AS (SELECT n, n11, n10, n01, n00,
        |    round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |    round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE) +
        |      CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe
        |  FROM m)
        |SELECT n, n11, n10, n01, n00, po, pe,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa
        |FROM o""".stripMargin,

    "q261_gain_curve" ->
      s"""WITH $lrCtes,
         |featid AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS y, 1.0 AS f0,
         |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
         |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(text) AS DOUBLE) AS f2,
         |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3
         |  FROM documents),
         |si AS (SELECT doc_id, y,
         |    round(1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))), 6)
         |      AS p
         |  FROM featid, w3_ w),
         |r AS (SELECT doc_id, y, p,
         |    CAST(row_number() OVER (ORDER BY p DESC, doc_id) AS BIGINT)
         |      AS rk
         |  FROM si),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(y) AS BIGINT) AS pt FROM r),
         |bd AS (SELECT ((rk - 1) * 10) // nt AS decile,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |    any_value(nt) AS nt, any_value(pt) AS pt
         |  FROM r CROSS JOIN tot GROUP BY 1),
         |c AS (SELECT decile, n, n_pos, nt, pt,
         |    sum(n) OVER wd AS cum_n, sum(n_pos) OVER wd AS cum_pos
         |  FROM bd
         |  WINDOW wd AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW))
         |SELECT decile, n, n_pos,
         |  round(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE), 6)
         |    AS cum_gain,
         |  round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
         |    (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 4) AS lift
         |FROM c ORDER BY decile""".stripMargin,

    "q262_hill_tail" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents DESC, o_orderkey)
        |      AS BIGINT) AS rk
        |  FROM o),
        |ref AS (SELECT cents AS ref_cents FROM r WHERE rk = 101)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  any_value(ref_cents) AS x_ref_cents,
        |  round(avg(ln(CAST(cents AS DOUBLE) / CAST(ref_cents AS DOUBLE))),
        |    6) AS hill_gamma,
        |  round(1.0 / avg(ln(CAST(cents AS DOUBLE) /
        |    CAST(ref_cents AS DOUBLE))), 4) AS tail_alpha
        |FROM r CROSS JOIN ref WHERE rk <= 100""".stripMargin,

    "q263_kendall_tau" ->
      """WITH by_ AS (SELECT p_brand, year(l_shipdate) AS yr,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) IN (1995, 1996) GROUP BY 1, 2),
        |rk AS (SELECT p_brand, yr,
        |    row_number() OVER (PARTITION BY yr ORDER BY cents DESC, p_brand)
        |      AS r
        |  FROM by_),
        |b AS (SELECT a.p_brand, a.r AS ra, c.r AS rb
        |  FROM rk a JOIN rk c ON a.p_brand = c.p_brand
        |  WHERE a.yr = 1995 AND c.yr = 1996)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS concordant,
        |  CAST(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) < 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS discordant,
        |  round(CAST(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1
        |    ELSE 0 END) - sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) < 0
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS kendall_tau
        |FROM b x JOIN b y ON x.p_brand < y.p_brand""".stripMargin,

    "q264_weighted_ess" ->
      """WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
        |    sum(sqrt(CAST(n AS DOUBLE))) AS ssq FROM cnt),
        |wts AS (SELECT lang, nn / ssq / sqrt(CAST(n AS DOUBLE)) AS w
        |  FROM cnt CROSS JOIN tot),
        |j AS (SELECT w FROM documents d JOIN wts ON wts.lang = d.lang)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  round(sum(w) * sum(w) / sum(w * w), 4) AS ess,
        |  round(sum(w) * sum(w) / sum(w * w) / CAST(count(*) AS DOUBLE), 6)
        |    AS ess_ratio
        |FROM j""".stripMargin,

    "q265_mde_power" ->
      """WITH c AS (SELECT
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm,
        |    CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS hit
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(hit) AS BIGINT) AS hits,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM c)
        |SELECT n1, n2,
        |  round(CAST(hits AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pooled_rate,
        |  round((1.96 + 0.8416) * sqrt(
        |    (CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (1.0 - CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
        |    AS mde_80,
        |  round((1.96 + 1.2816) * sqrt(
        |    (CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (1.0 - CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
        |    AS mde_90
        |FROM m""".stripMargin,

    "q266_design_effect" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS ni,
        |    sum(value) AS si, sum(value * value) AS qi
        |  FROM events GROUP BY 1),
        |m AS (SELECT sum(ni) AS nn, CAST(count(*) AS DOUBLE) AS k,
        |    sum(ni * ni) AS n2, sum(si) AS s, sum(qi) AS q,
        |    sum(si * si / ni) AS sb
        |  FROM u),
        |d AS (SELECT CAST(nn AS BIGINT) AS n_events, CAST(k AS BIGINT)
        |      AS n_users,
        |    (q - sb) / (nn - k) AS msw,
        |    (sb - s * s / nn) / (k - 1) AS msb,
        |    (nn - n2 / nn) / (k - 1) AS n0
        |  FROM m)
        |SELECT n_events, n_users, round(n0, 4) AS n0,
        |  round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc,
        |  round(1.0 + (n0 - 1) * ((msb - msw) / (msb + (n0 - 1) * msw)), 4)
        |    AS deff
        |FROM d""".stripMargin,

    "q267_neyman_allocation" ->
      """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS q
        |  FROM documents GROUP BY 1),
        |sd AS (SELECT lang, n,
        |    sqrt(CAST(q - s * s / n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |      AS sd
        |  FROM st),
        |tot AS (SELECT sum(CAST(n AS DOUBLE) * sd) AS z FROM sd)
        |SELECT lang, n, round(sd, 4) AS sd,
        |  round(CAST(n AS DOUBLE) * sd / z, 6) AS neyman_share,
        |  CAST(floor(100 * (CAST(n AS DOUBLE) * sd / z) + 0.5) AS BIGINT)
        |    AS alloc_100
        |FROM sd CROSS JOIN tot ORDER BY lang""".stripMargin,

    "q268_spearman" ->
      """WITH per AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |      + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1),
        |rx AS (SELECT l_suppkey, CAST(row_number() OVER
        |    (ORDER BY rev_cents DESC, l_suppkey) AS BIGINT) AS rx FROM per),
        |ry AS (SELECT l_suppkey, CAST(row_number() OVER
        |    (ORDER BY qty DESC, l_suppkey) AS BIGINT) AS ry FROM per)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |  round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) *
        |      (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)),
        |    6) AS spearman_rho
        |FROM rx JOIN ry USING (l_suppkey)""".stripMargin,

    "q269_welch_ttest" ->
      """WITH c AS (SELECT
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    CAST(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
        |      AS BIGINT) AS q1,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s2,
        |    CAST(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)
        |      AS BIGINT) AS q2
        |  FROM c),
        |d AS (SELECT n1, n2,
        |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / n1) / (n1 - 1) AS v1,
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / n2) / (n2 - 1) AS v2
        |  FROM m)
        |SELECT n1, n2,
        |  round(m1 / 100.0, 4) AS mean_building,
        |  round(m2 / 100.0, 4) AS mean_machinery,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS welch_t,
        |  round(pow(v1 / n1 + v2 / n2, 2.0) /
        |    (pow(v1 / n1, 2.0) / (n1 - 1) + pow(v2 / n2, 2.0) / (n2 - 1)),
        |    2) AS welch_df
        |FROM d""".stripMargin,

    "q270_js_divergence" ->
      """WITH per AS (SELECT lang,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM per),
        |pq AS (SELECT CAST(ca AS DOUBLE) / na AS p,
        |    CAST(cb AS DOUBLE) / nb AS q
        |  FROM per CROSS JOIN tot),
        |terms AS (SELECT
        |    CASE WHEN p > 0.0 THEN p * ln(p / ((p + q) / 2.0))
        |      ELSE 0.0 END AS tp,
        |    CASE WHEN q > 0.0 THEN q * ln(q / ((p + q) / 2.0))
        |      ELSE 0.0 END AS tq
        |  FROM pq),
        |j AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
        |    round((sum(tp) + sum(tq)) / 2.0, 6) AS js_nats FROM terms)
        |SELECT n_langs, js_nats, round(js_nats / ln(2.0), 6) AS js_bits
        |FROM j""".stripMargin,

    "q271_bh_fdr" ->
      """WITH tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS h
        |  FROM customer),
        |per AS (SELECT c_mktsegment, CAST(count(*) AS DOUBLE) AS n1,
        |    CAST(sum(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS h1
        |  FROM customer GROUP BY 1),
        |z AS (SELECT c_mktsegment,
        |    (h1 / n1 - (h - h1) / (n - n1)) /
        |      sqrt((h / n) * (1.0 - h / n) * (1.0 / n1 + 1.0 / (n - n1)))
        |      AS z
        |  FROM per CROSS JOIN tot),
        |xt AS (SELECT c_mktsegment, z, abs(z) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
        |  FROM z),
        |p AS (SELECT c_mktsegment, z,
        |    (0.254829592 * t - 0.284496736 * t * t
        |      + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
        |      + 1.061405429 * t * t * t * t * t) * exp(-x * x) AS p
        |  FROM xt),
        |ranked AS (SELECT c_mktsegment, z, p,
        |    CAST(row_number() OVER (ORDER BY p, c_mktsegment) AS BIGINT)
        |      AS rk
        |  FROM p),
        |cut AS (SELECT coalesce(max(CASE WHEN p <= CAST(rk AS DOUBLE) /
        |      5.0 * 0.10 THEN rk END), 0) AS k
        |  FROM ranked)
        |SELECT c_mktsegment, round(z, 4) AS z,
        |  round(p, 6) AS p_two_sided, rk AS p_rank,
        |  round(CAST(rk AS DOUBLE) / 5.0 * 0.10, 4) AS bh_crit,
        |  rk <= k AS rejected
        |FROM ranked CROSS JOIN cut ORDER BY c_mktsegment""".stripMargin,

    "q272_burstiness" ->
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts, 1) OVER
        |      (PARTITION BY user_id, event_type ORDER BY ts, event_id)))
        |      // 60000000 AS gap_min
        |  FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap_min) AS BIGINT) AS sg,
        |    CAST(sum(gap_min * gap_min) AS BIGINT) AS qg
        |  FROM g WHERE gap_min IS NOT NULL GROUP BY 1
        |  HAVING count(*) > 1),
        |d AS (SELECT event_type, n_gaps,
        |    CAST(sg AS DOUBLE) / n_gaps AS mu,
        |    sqrt((CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) *
        |      CAST(sg AS DOUBLE) / n_gaps) / (n_gaps - 1)) AS sd
        |  FROM m)
        |SELECT event_type, n_gaps, round(mu, 4) AS mean_gap_min,
        |  round(sd, 4) AS sd_gap_min,
        |  round((sd - mu) / (sd + mu), 6) AS burstiness
        |FROM d ORDER BY event_type""".stripMargin,

    "q273_cramers_v" ->
      """WITH joint AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM customer GROUP BY 1, 2),
        |rm AS (SELECT c_nationkey, CAST(sum(o) AS BIGINT) AS rn
        |  FROM joint GROUP BY 1),
        |cm AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS cn
        |  FROM joint GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n,
        |    CAST(count(DISTINCT c_nationkey) AS BIGINT) AS r,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS c
        |  FROM joint),
        |grid AS (SELECT n, r, c,
        |    CAST(coalesce(o, 0) AS DOUBLE) AS obs,
        |    CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / n AS e
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN joint USING (c_nationkey, c_mktsegment)
        |  CROSS JOIN tot)
        |SELECT CAST(any_value(n) AS BIGINT) AS n,
        |  any_value(r) AS n_nations, any_value(c) AS n_segments,
        |  any_value((r - 1) * (c - 1)) AS dof,
        |  round(sum((obs - e) * (obs - e) / e), 4) AS chi2,
        |  round(sqrt(sum((obs - e) * (obs - e) / e) /
        |    (any_value(n) * CAST(least(any_value(r) - 1, any_value(c) - 1)
        |      AS DOUBLE))), 6) AS cramers_v
        |FROM grid""".stripMargin,

    "q274_heaps_law" ->
      """WITH ta AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS a FROM documents),
        |tkc AS (SELECT doc_id,
        |    unnest(list_transform(range(len(a) - 2),
        |      i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3])) AS tokn
        |  FROM ta WHERE len(a) >= 3),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |rkd AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id)
        |    AS BIGINT) AS rk FROM documents),
        |cps AS (SELECT CAST(x + 1 AS BIGINT) AS k, doc_id AS cp
        |  FROM range(10) t(x) CROSS JOIN nd
        |  JOIN rkd ON rkd.rk = (CAST(x + 1 AS BIGINT) * nd + 9) // 10),
        |dt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc
        |  FROM tkc GROUP BY 1),
        |ft AS (SELECT tokn, CAST(min(doc_id) AS BIGINT) AS fd
        |  FROM tkc GROUP BY 1),
        |nk AS (SELECT k, CAST(sum(tc) AS BIGINT) AS nn
        |  FROM dt CROSS JOIN cps WHERE doc_id <= cp GROUP BY 1),
        |vk AS (SELECT k, CAST(count(*) AS BIGINT) AS vv
        |  FROM ft CROSS JOIN cps WHERE fd <= cp GROUP BY 1),
        |xy AS (SELECT ln(CAST(nn AS DOUBLE)) AS x,
        |    ln(CAST(vv AS DOUBLE)) AS y FROM nk JOIN vk USING (k)),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
        |    AS heaps_beta,
        |  round(exp((sy - sx * ((n * sxy - sx * sy) /
        |    (n * sxx - sx * sx))) / n), 4) + 0.0 AS heaps_k,
        |  CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
        |    > 0 AS BIGINT) AS beta_positive
        |FROM a""".stripMargin,

    "q275_hurst_exponent" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      // 100 AS BIGINT) AS units
        |  FROM orders GROUP BY 1),
        |st AS (SELECT CAST(sum(units) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n FROM daily),
        |idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |      AS i, units - tot // n AS c
        |  FROM daily CROSS JOIN st),
        |blk AS (SELECT m, (i - 1) // m AS blk,
        |    CAST(count(*) AS BIGINT) AS cnt, CAST(sum(c) AS BIGINT) AS bs
        |  FROM idx CROSS JOIN (SELECT CAST(unnest([1, 2, 4, 8, 16])
        |    AS BIGINT) AS m) g
        |  GROUP BY 1, 2 HAVING count(*) = m),
        |vm AS (SELECT m, CAST(count(*) AS BIGINT) AS kb,
        |    CAST(sum(bs) AS BIGINT) AS ss,
        |    CAST(sum(bs * bs) AS BIGINT) AS qq
        |  FROM blk GROUP BY 1),
        |xy AS (SELECT ln(CAST(m AS DOUBLE)) AS x,
        |    ln(((CAST(qq AS DOUBLE) - CAST(ss AS DOUBLE) *
        |      CAST(ss AS DOUBLE) / kb) / (kb - 1)) /
        |      (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))) AS y
        |  FROM vm),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_scales,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS var_slope,
        |  round(1.0 + ((n * sxy - sx * sy) / (n * sxx - sx * sx)) / 2.0,
        |    4) AS hurst_h
        |FROM a""".stripMargin,

    "q276_runs_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |st AS (SELECT CAST(sum(cents) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n FROM daily),
        |sg AS (SELECT day, n,
        |    CASE WHEN cents * n > tot THEN 1 ELSE 0 END AS above
        |  FROM daily CROSS JOIN st),
        |lagged AS (SELECT n, above,
        |    lag(above, 1) OVER (ORDER BY day) AS prev
        |  FROM sg),
        |r AS (SELECT CAST(any_value(n) AS BIGINT) AS n_days,
        |    CAST(sum(above) AS BIGINT) AS n1,
        |    CAST(any_value(n) - sum(above) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1
        |      ELSE 0 END) AS BIGINT) AS runs
        |  FROM lagged),
        |m AS (SELECT n_days, n1, n2, runs,
        |    1.0 + 2.0 * n1 * n2 / CAST(n_days AS DOUBLE) AS mu,
        |    2.0 * n1 * n2 * (2.0 * n1 * n2 - n_days) /
        |      (CAST(n_days AS DOUBLE) * n_days * (n_days - 1)) AS s2
        |  FROM r)
        |SELECT n_days, n1, n2, runs, round(mu, 4) AS expected_runs,
        |  round((CAST(runs AS DOUBLE) - mu) / sqrt(s2), 6) AS z
        |FROM m""".stripMargin,

    "q277_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang, lang = 'en' AS tgt,
        |    unnest($ntoksSql) AS tok FROM documents),
        |counts AS (SELECT tok,
        |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1 HAVING count(*) >= 5),
        |sums AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(ct) AS BIGINT) AS nt,
        |    CAST(sum(cr) AS BIGINT) AS nr FROM counts),
        |llr AS (SELECT tok,
        |    ln(CAST(ct + 1 AS DOUBLE) / (nt + v)) -
        |      ln(CAST(cr + 1 AS DOUBLE) / (nr + v)) AS llr
        |  FROM counts CROSS JOIN sums),
        |dtc AS (SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE NOT tgt GROUP BY 1, 2, 3),
        |scored AS (SELECT doc_id, lang, sum(c * llr) / sum(c) AS w
        |  FROM dtc JOIN llr USING (tok) GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  round(avg(w), 6) AS avg_w
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,

    "q278_mann_whitney" ->
      """WITH pool AS (SELECT
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    c_mktsegment = 'BUILDING' AS is_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |byval AS (SELECT cents,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM pool GROUP BY 1),
        |cum AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT)
        |    AS run FROM byval),
        |agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(na * (2 * (run - cnt) + cnt + 1)) AS BIGINT) AS rs2,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
        |  FROM cum)
        |SELECT n_a, n_b,
        |  CAST(rs2 - n_a * (n_a + 1) AS BIGINT) AS u2, tie_term,
        |  round((rs2 - n_a * (n_a + 1)) / 2.0 / (n_a * n_b), 6) AS auc,
        |  round(((rs2 - n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0) /
        |    sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1) -
        |      tie_term / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))),
        |    6) AS z
        |FROM agg""".stripMargin,

    "q279_periodogram" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
        |idx AS (SELECT n,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS tpos
        |  FROM daily),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS d,
        |    CAST(sum(n) AS BIGINT) AS tot FROM idx),
        |ks AS (SELECT CAST(unnest(range(1, 367)) AS BIGINT) AS k),
        |terms AS (SELECT k, d,
        |    CAST(n * d - tot AS DOUBLE) / d AS yc,
        |    2 * pi() * k * tpos / CAST(d AS DOUBLE) AS theta
        |  FROM idx CROSS JOIN st CROSS JOIN ks),
        |pw AS (SELECT k, any_value(d) AS d,
        |    sum(yc * cos(theta)) AS a, sum(yc * sin(theta)) AS b
        |  FROM terms GROUP BY 1)
        |SELECT k, round(CAST(d AS DOUBLE) / k, 2) AS period_days,
        |  round((a * a + b * b) * 2 / d, 2) AS pwr
        |FROM pw ORDER BY pwr DESC, k LIMIT 5""".stripMargin,

    "q280_logrank_test" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT o_custkey, c_mktsegment,
        |    CAST(datediff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    datediff('day', max(o_orderdate), any_value(mx.mx)) > 90
        |      AS event,
        |    c_mktsegment = 'BUILDING' AS is_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey CROSS JOIN mx
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  GROUP BY o_custkey, c_mktsegment),
        |bydur AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_all,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN is_a AND event THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_a
        |  FROM cust GROUP BY 1),
        |cum AS (SELECT *,
        |    CAST(sum(c_all) OVER (ORDER BY dur) AS BIGINT) AS cum_all,
        |    CAST(sum(c_a) OVER (ORDER BY dur) AS BIGINT) AS cum_a
        |  FROM bydur),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total,
        |    CAST(sum(c_a) AS BIGINT) AS n_a_total FROM bydur),
        |risk AS (SELECT dur, d_all, d_a, n_a_total,
        |    n_total - n_a_total AS n_b_total,
        |    n_total - (cum_all - c_all) AS n_r,
        |    n_a_total - (cum_a - c_a) AS n_ra
        |  FROM cum CROSS JOIN tot
        |  WHERE d_all > 0 AND n_total - (cum_all - c_all) > 1),
        |agg AS (SELECT any_value(n_a_total) AS n_a,
        |    any_value(n_b_total) AS n_b,
        |    CAST(sum(d_a) AS BIGINT) AS observed_a,
        |    sum(d_all * n_ra / CAST(n_r AS DOUBLE)) AS e1,
        |    sum(d_all * (n_ra / CAST(n_r AS DOUBLE)) *
        |      (1.0 - n_ra / CAST(n_r AS DOUBLE)) *
        |      (n_r - d_all) / (n_r - 1)) AS v1
        |  FROM risk)
        |SELECT n_a, n_b, observed_a, round(e1, 4) AS expected_a,
        |  round(pow(observed_a - e1, 2) / v1, 4) AS chi2,
        |  round((observed_a - e1) / sqrt(v1), 4) AS z
        |FROM agg""".stripMargin,

    "q281_modularity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |eb AS (SELECT e0.*, ba.p_brand AS b1, bb.p_brand AS b2
        |  FROM e0 JOIN part ba ON p1 = ba.p_partkey
        |    JOIN part bb ON p2 = bb.p_partkey),
        |ends AS (SELECT b1 AS b, b2 AS other, w FROM eb
        |  UNION ALL SELECT b2 AS b, b1 AS other, w FROM eb),
        |wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM e0)
        |SELECT b AS p_brand, CAST(sum(w) AS BIGINT) AS k_c,
        |  CAST(sum(CASE WHEN b = other THEN w ELSE 0 END) / 2 AS BIGINT)
        |    AS w_intra,
        |  round(sum(CASE WHEN b = other THEN w ELSE 0 END) /
        |      (2.0 * any_value(w_total)) -
        |    pow(sum(w) / (2.0 * any_value(w_total)), 2), 6) AS q_contrib
        |FROM ends CROSS JOIN wt GROUP BY 1 ORDER BY 1""".stripMargin,

    "q282_abc_xyz" ->
      """WITH li AS (SELECT l_partkey,
        |    date_trunc('month', l_shipdate) AS mth,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |monthly AS (SELECT l_partkey, mth, CAST(sum(qty) AS BIGINT) AS s_m,
        |    CAST(sum(cents) AS BIGINT) AS c_m
        |  FROM li GROUP BY 1, 2),
        |months AS (SELECT CAST(count(DISTINCT mth) AS BIGINT) AS m
        |  FROM li),
        |parts AS (SELECT l_partkey, CAST(sum(s_m) AS BIGINT) AS s,
        |    CAST(sum(s_m * s_m) AS BIGINT) AS ss,
        |    CAST(sum(c_m) AS BIGINT) AS cents
        |  FROM monthly GROUP BY 1),
        |ranked AS (SELECT *, CAST(sum(cents)
        |      OVER (ORDER BY cents DESC, l_partkey) AS BIGINT) AS cum
        |  FROM parts),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS ctot FROM parts)
        |SELECT CASE WHEN 5 * cum <= 4 * ctot THEN 'A'
        |    WHEN 20 * cum <= 19 * ctot THEN 'B' ELSE 'C' END AS abc,
        |  CASE WHEN 4 * (m * ss - s * s) <= s * s THEN 'X'
        |    WHEN m * ss - s * s <= s * s THEN 'Y' ELSE 'Z' END AS xyz,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM ranked CROSS JOIN tot CROSS JOIN months
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q283_newsvendor" ->
      """WITH daily AS (SELECT p_brand, CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |      AS d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |byval AS (SELECT p_brand, d, CAST(count(*) AS BIGINT) AS cnt
        |  FROM daily GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(cnt)
        |      OVER (PARTITION BY p_brand ORDER BY d) AS BIGINT) AS cum
        |  FROM byval),
        |n AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |qstar AS (SELECT p_brand, CAST(min(d) AS BIGINT) AS q_star
        |  FROM cum JOIN n USING (p_brand)
        |  WHERE 4 * cum >= 3 * n_days GROUP BY 1)
        |SELECT p_brand, CAST(sum(cnt) AS BIGINT) AS n_days,
        |  any_value(q_star) AS q_star,
        |  round(sum(cnt * (3 * greatest(d - q_star, 0) +
        |      greatest(q_star - d, 0))) / CAST(sum(cnt) AS DOUBLE), 4)
        |    AS avg_daily_cost
        |FROM byval JOIN qstar USING (p_brand)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q284_gumbel_returns" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |blocks AS (SELECT date_trunc('month', day) AS mth,
        |    CAST(max(cents // 100) AS BIGINT) AS mx
        |  FROM daily GROUP BY 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(mx) AS BIGINT) AS s,
        |    CAST(sum(mx * mx) AS BIGINT) AS ss FROM blocks),
        |fit0 AS (SELECT n, CAST(s AS DOUBLE) / n AS xbar,
        |    sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * (n - 1))) AS sd
        |  FROM mom),
        |fit1 AS (SELECT n AS n_blocks, sd * sqrt(6.0) / pi() AS beta,
        |    xbar FROM fit0),
        |fit AS (SELECT n_blocks,
        |    xbar - 0.5772156649015329 * beta AS mu, beta FROM fit1)
        |SELECT n_blocks, round(mu, 2) AS gumbel_mu,
        |  round(beta, 2) AS gumbel_beta,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 12)), 2) AS rl_12mo,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 60)), 2) AS rl_60mo
        |FROM fit""".stripMargin,

    "q285_rdd" ->
      """WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |side AS (SELECT x >= 0 AS is_right, x,
        |    CAST(coalesce(cnt, 0) AS BIGINT) AS yv
        |  FROM (SELECT c_custkey,
        |      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x
        |    FROM customer) c
        |  LEFT JOIN y ON c_custkey = o_custkey
        |  WHERE x >= -100000 AND x < 100000),
        |fits AS (SELECT is_right, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |    CAST(sum(x * yv) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM side GROUP BY 1),
        |sol AS (SELECT is_right, n,
        |    (CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy) /
        |      (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      AS icpt,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |      (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      AS slope
        |  FROM fits)
        |SELECT l.n AS n_left, r.n AS n_right,
        |  round(l.icpt, 4) AS intercept_left,
        |  round(r.icpt, 4) AS intercept_right,
        |  round(1e7 * l.slope, 4) AS slope_left_e7,
        |  round(1e7 * r.slope, 4) AS slope_right_e7,
        |  round(r.icpt - l.icpt, 4) AS rd_effect
        |FROM (SELECT * FROM sol WHERE NOT is_right) l
        |CROSS JOIN (SELECT * FROM sol WHERE is_right) r""".stripMargin,

    "q286_littles_law" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events),
        |lagd AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us, 1) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) IS NULL
        |      OR us - lag(us, 1) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END
        |      AS new_sess
        |  FROM ev),
        |sid AS (SELECT user_id, us, CAST(sum(new_sess)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM lagd),
        |sess AS (SELECT user_id, sid, CAST(min(us) AS BIGINT) AS s0,
        |    CAST(max(us) AS BIGINT) AS s1
        |  FROM sid GROUP BY 1, 2),
        |span AS (SELECT CAST(min(s0) AS BIGINT) AS smin,
        |    CAST(max(s1) AS BIGINT) AS smax,
        |    CAST(count(*) AS BIGINT) AS n_sess,
        |    CAST(sum(s1 - s0) AS BIGINT) AS dur_us FROM sess),
        |marks AS (SELECT h * 3600000000 AS us, CAST(2 AS BIGINT) AS pri,
        |    CAST(0 AS BIGINT) AS delta
        |  FROM span, unnest(generate_series(
        |    (smin + 3599999999) // 3600000000,
        |    smax // 3600000000)) AS t(h)),
        |deltas AS (SELECT s0 AS us, CAST(0 AS BIGINT) AS pri,
        |    CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL SELECT s1, 1, -1 FROM sess),
        |swept AS (SELECT pri, CAST(sum(delta) OVER (ORDER BY us * 4 + pri
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
        |  FROM (SELECT * FROM marks UNION ALL SELECT * FROM deltas)),
        |sampled AS (SELECT CAST(count(*) AS BIGINT) AS n_marks,
        |    avg(CAST(open AS DOUBLE)) AS l_sampled
        |  FROM swept WHERE pri = 2)
        |SELECT n_sess AS n_sessions,
        |  round((smax - smin) / 3.6e9, 2) AS span_hours,
        |  round(n_sess * 3.6e9 / CAST(smax - smin AS DOUBLE), 4)
        |    AS lambda_per_hr,
        |  round(dur_us / (n_sess * 6e7), 4) AS w_minutes,
        |  round(dur_us / CAST(smax - smin AS DOUBLE), 4) AS l_exact,
        |  round(l_sampled, 4) AS l_sampled
        |FROM span CROSS JOIN sampled""".stripMargin,

    "q287_shapley_attribution" ->
      """WITH users AS (SELECT user_id,
        |    CAST(bit_or(CASE event_type WHEN 'click' THEN 1
        |      WHEN 'error' THEN 2 WHEN 'signup' THEN 4
        |      WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT) AS mask,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cv
        |  FROM events GROUP BY 1),
        |cells AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(cv) AS BIGINT) AS conv FROM users GROUP BY 1),
        |subsets AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS smask),
        |v AS (SELECT smask,
        |    CAST(coalesce(sum(conv), 0) AS BIGINT) AS v
        |  FROM subsets LEFT JOIN cells ON (mask & smask) = mask
        |  GROUP BY 1),
        |channels AS (SELECT ['click', 'error', 'signup', 'view'][i + 1]
        |      AS channel, CAST(1 << i AS BIGINT) AS bit
        |  FROM (SELECT unnest(range(0, 4)) AS i)),
        |pairs AS (SELECT channel, vs.smask, vs.v AS v_s, vsc.v AS v_sc,
        |    CASE WHEN bit_count(vs.smask) IN (0, 3) THEN 6 ELSE 2 END
        |      AS wnum
        |  FROM channels JOIN v vs ON (vs.smask & bit) = 0
        |  JOIN v vsc ON vsc.smask = (vs.smask | bit))
        |SELECT channel,
        |  round(sum((v_sc - v_s) * wnum) / 24.0, 6)
        |    AS shapley_conversions
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q288_ipf_raking" ->
      """WITH geo AS (SELECT c_mktsegment AS seg, r_name AS reg, c_acctbal
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |popseg AS (SELECT seg, CAST(count(*) AS BIGINT) AS p_seg
        |  FROM geo GROUP BY 1),
        |popreg AS (SELECT reg, CAST(count(*) AS BIGINT) AS p_reg
        |  FROM geo GROUP BY 1),
        |popcell AS (SELECT seg, reg, CAST(count(*) AS BIGINT) AS n_pop
        |  FROM geo GROUP BY 1, 2),
        |c0 AS (SELECT seg, reg, CAST(count(*) AS BIGINT) AS n_sample,
        |    1.0 AS w
        |  FROM geo WHERE c_acctbal > 0 GROUP BY 1, 2),
        |a1 AS (SELECT seg, sum(n_sample * w) AS t_seg FROM c0 GROUP BY 1),
        |c1 AS (SELECT c0.seg, reg, n_sample, w * p_seg / t_seg AS w
        |  FROM c0 JOIN a1 USING (seg) JOIN popseg USING (seg)),
        |b1 AS (SELECT reg, sum(n_sample * w) AS t_reg FROM c1 GROUP BY 1),
        |c2 AS (SELECT seg, c1.reg, n_sample, w * p_reg / t_reg AS w
        |  FROM c1 JOIN b1 USING (reg) JOIN popreg USING (reg)),
        |a2 AS (SELECT seg, sum(n_sample * w) AS t_seg FROM c2 GROUP BY 1),
        |c3 AS (SELECT c2.seg, reg, n_sample, w * p_seg / t_seg AS w
        |  FROM c2 JOIN a2 USING (seg) JOIN popseg USING (seg)),
        |b2 AS (SELECT reg, sum(n_sample * w) AS t_reg FROM c3 GROUP BY 1),
        |c4 AS (SELECT seg, c3.reg, n_sample, w * p_reg / t_reg AS w
        |  FROM c3 JOIN b2 USING (reg) JOIN popreg USING (reg)),
        |a3 AS (SELECT seg, sum(n_sample * w) AS t_seg FROM c4 GROUP BY 1),
        |c5 AS (SELECT c4.seg, reg, n_sample, w * p_seg / t_seg AS w
        |  FROM c4 JOIN a3 USING (seg) JOIN popseg USING (seg)),
        |b3 AS (SELECT reg, sum(n_sample * w) AS t_reg FROM c5 GROUP BY 1),
        |c6 AS (SELECT seg, c5.reg, n_sample, w * p_reg / t_reg AS w
        |  FROM c5 JOIN b3 USING (reg) JOIN popreg USING (reg))
        |SELECT seg AS c_mktsegment, reg AS r_name, n_sample, n_pop,
        |  round(w, 6) AS weight, round(n_sample * w, 2) AS weighted_n
        |FROM c6 JOIN popcell USING (seg, reg)
        |ORDER BY 1, 2""".stripMargin,

    "q289_iv_wald" ->
      """WITH spend AS (SELECT o_custkey, CAST(count(*) AS BIGINT)
        |      AS n_ord,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |base AS (SELECT c_nationkey % 2 = 0 AS z,
        |    CASE WHEN coalesce(n_ord, 0) > 5 THEN 1 ELSE 0 END AS x,
        |    CAST(coalesce(cents, 0) AS BIGINT) AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |g AS (SELECT z, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
        |  FROM base GROUP BY 1)
        |SELECT z1.n AS n_z1, z0.n AS n_z0,
        |  round(CAST(z1.sy AS DOUBLE) / z1.n -
        |    CAST(z0.sy AS DOUBLE) / z0.n, 4) AS itt_y_cents,
        |  round(CAST(z1.sx AS DOUBLE) / z1.n -
        |    CAST(z0.sx AS DOUBLE) / z0.n, 6) AS first_stage,
        |  round((CAST(z1.sy AS DOUBLE) / z1.n -
        |      CAST(z0.sy AS DOUBLE) / z0.n) /
        |    (CAST(z1.sx AS DOUBLE) / z1.n -
        |      CAST(z0.sx AS DOUBLE) / z0.n), 4) AS beta_iv_cents
        |FROM (SELECT * FROM g WHERE z) z1
        |CROSS JOIN (SELECT * FROM g WHERE NOT z) z0""".stripMargin,

    "q290_item_cf" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |pop AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS pop
        |  FROM items GROUP BY 1),
        |targets AS (SELECT l_partkey AS tgt, pop AS pop_t FROM (
        |  SELECT *, row_number() OVER (ORDER BY pop DESC, l_partkey)
        |      AS prk
        |  FROM pop) WHERE prk <= 10),
        |co AS (SELECT t.tgt, t.pop_t, b.l_partkey AS nbr,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM items a JOIN targets t ON a.l_partkey = t.tgt
        |  JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND b.l_partkey <> t.tgt
        |  GROUP BY 1, 2, 3),
        |scored AS (SELECT tgt, nbr, co.co, pop_t, p.pop AS pop_n,
        |    round(co.co / sqrt(CAST(pop_t * p.pop AS DOUBLE)), 6)
        |      AS cosine
        |  FROM co JOIN pop p ON nbr = p.l_partkey)
        |SELECT tgt AS p_partkey, rank, nbr AS neighbor, co, cosine
        |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY tgt
        |    ORDER BY cosine DESC, co DESC, nbr) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY p_partkey, rank""".stripMargin,

    "q291_block_bootstrap" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS tpos
        |  FROM daily),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM idx),
        |pos AS (SELECT rep,
        |    1 + ((1103515245 * (rep * 1009 + k * 9176) + 12345) %
        |      2147483648) % (nd - 6) AS start
        |  FROM (SELECT CAST(unnest(range(1, 201)) AS BIGINT) AS rep)
        |  CROSS JOIN (SELECT CAST(unnest(range(0, 24)) AS BIGINT) AS k)
        |  CROSS JOIN st),
        |expand AS (SELECT rep, start + off AS tpos
        |  FROM pos CROSS JOIN
        |    (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS off)),
        |repsums AS (SELECT rep, CAST(sum(cents) AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM expand JOIN idx USING (tpos) GROUP BY 1),
        |rk AS (SELECT *, row_number() OVER (ORDER BY sc, rep) AS rn
        |  FROM repsums),
        |ci AS (SELECT CAST(sum(CASE WHEN rn = 10 THEN sc END) AS BIGINT)
        |      AS lo,
        |    CAST(sum(CASE WHEN rn = 191 THEN sc END) AS BIGINT) AS hi,
        |    CAST(sum(sc) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_reps,
        |    CAST(any_value(nb) AS BIGINT) AS nb
        |  FROM rk)
        |SELECT nd AS n_days, n_reps,
        |  round(tot / (n_reps * nb * 100.0), 2) AS boot_mean_daily,
        |  round(lo / (nb * 100.0), 2) AS ci5_daily,
        |  round(hi / (nb * 100.0), 2) AS ci95_daily
        |FROM ci CROSS JOIN st""".stripMargin,

    "q292_decision_stump" ->
      """WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (SELECT
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
        |    CASE WHEN coalesce(n_ord, 0) > 5 THEN 1 ELSE 0 END AS yv
        |  FROM customer LEFT JOIN y ON c_custkey = o_custkey),
        |ranked AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, yv) AS BIGINT) AS rk
        |  FROM base),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(yv) AS BIGINT) AS pos FROM base),
        |cuts AS (SELECT DISTINCT x AS thr
        |  FROM ranked CROSS JOIN n
        |  JOIN (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS i)
        |    ON rk = (i * n) // 10),
        |splits AS (SELECT thr,
        |    CAST(sum(CASE WHEN x <= thr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_l,
        |    CAST(sum(CASE WHEN x <= thr THEN yv ELSE 0 END) AS BIGINT)
        |      AS p_l
        |  FROM base CROSS JOIN cuts GROUP BY 1),
        |scored AS (SELECT thr, n_l, p_l, n - n_l AS n_r,
        |    pos - p_l AS p_r,
        |    round((1.0 - pow(CAST(pos AS DOUBLE) / n, 2) -
        |        pow(CAST(n - pos AS DOUBLE) / n, 2)) -
        |      (n_l * (1.0 - pow(CAST(p_l AS DOUBLE) / n_l, 2) -
        |          pow(CAST(n_l - p_l AS DOUBLE) / n_l, 2)) +
        |        (n - n_l) * (1.0 -
        |          pow(CAST(pos - p_l AS DOUBLE) / (n - n_l), 2) -
        |          pow(CAST((n - n_l) - (pos - p_l) AS DOUBLE) /
        |            (n - n_l), 2))) / n, 6) AS gini_gain
        |  FROM splits CROSS JOIN n
        |  WHERE n_l > 0 AND n - n_l > 0)
        |SELECT rank, thr AS threshold_cents, n_l, p_l, n_r, p_r,
        |  gini_gain
        |FROM (SELECT *, CAST(row_number()
        |    OVER (ORDER BY gini_gain DESC, thr) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY rank""".stripMargin,

    "q293_energy_distance" ->
      """WITH geo AS (SELECT
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    r_name = 'ASIA' AS is_a
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name IN ('ASIA', 'EUROPE')),
        |byval AS (SELECT v,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM geo GROUP BY 1),
        |cum AS (SELECT *,
        |    CAST(sum(ca) OVER w AS BIGINT) AS cca,
        |    CAST(sum(cb) OVER w AS BIGINT) AS ccb,
        |    CAST(sum(v * ca) OVER w AS BIGINT) AS sva,
        |    CAST(sum(v * cb) OVER w AS BIGINT) AS svb
        |  FROM byval WINDOW w AS (ORDER BY v)),
        |terms AS (SELECT v, ca, cb, cca - ca AS ka, ccb - cb AS kb,
        |    sva - v * ca AS ta, svb - v * cb AS tb FROM cum),
        |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca * (v * kb - tb) + cb * (v * ka - ta)) AS BIGINT)
        |      AS sab,
        |    CAST(sum(ca * (v * ka - ta)) AS BIGINT) AS saa,
        |    CAST(sum(cb * (v * kb - tb)) AS BIGINT) AS sbb
        |  FROM terms)
        |SELECT n_a, n_b,
        |  round(sab / CAST(n_a * n_b AS DOUBLE), 4) AS e_xy,
        |  round(2.0 * saa / CAST(n_a * n_a AS DOUBLE), 4) AS e_xx,
        |  round(2.0 * sbb / CAST(n_b * n_b AS DOUBLE), 4) AS e_yy,
        |  round(2.0 * sab / CAST(n_a * n_b AS DOUBLE) -
        |    2.0 * saa / CAST(n_a * n_a AS DOUBLE) -
        |    2.0 * sbb / CAST(n_b * n_b AS DOUBLE), 4) AS energy_dist
        |FROM agg""".stripMargin,

    "q294_cuped" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value + 0.5) AS BIGINT) AS dol FROM events),
        |t0 AS (SELECT CAST(min(us) AS BIGINT) AS smin FROM ev),
        |users AS (SELECT user_id % 2 = 0 AS treat,
        |    CAST(sum(CASE WHEN us < smin + 1296000000000 THEN dol
        |      ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN us >= smin + 1296000000000 THEN dol
        |      ELSE 0 END) AS BIGINT) AS post
        |  FROM ev CROSS JOIN t0 GROUP BY user_id),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pre) AS BIGINT) AS sp,
        |    CAST(sum(post) AS BIGINT) AS sq,
        |    CAST(sum(pre * pre) AS BIGINT) AS spp,
        |    CAST(sum(post * post) AS BIGINT) AS sqq,
        |    CAST(sum(pre * post) AS BIGINT) AS spq,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(sum(CASE WHEN treat THEN pre ELSE 0 END) AS BIGINT)
        |      AS spt,
        |    CAST(sum(CASE WHEN treat THEN post ELSE 0 END) AS BIGINT)
        |      AS sqt
        |  FROM users),
        |sol AS (SELECT nt AS n_treat, n - nt AS n_ctrl,
        |    CAST(n * spq - sp * sq AS DOUBLE) /
        |      (n * spp - sp * sp) AS theta,
        |    CAST(n * spq - sp * sq AS DOUBLE) *
        |      (n * spq - sp * sq) /
        |      (CAST(n * spp - sp * sp AS DOUBLE) *
        |        (n * sqq - sq * sq)) AS r2,
        |    CAST(sqt AS DOUBLE) / nt -
        |      CAST(sq - sqt AS DOUBLE) / (n - nt) AS ate_raw,
        |    CAST(spt AS DOUBLE) / nt -
        |      CAST(sp - spt AS DOUBLE) / (n - nt) AS pre_imb
        |  FROM mom)
        |SELECT n_treat, n_ctrl, round(theta, 6) AS theta,
        |  round(r2, 6) AS var_reduction,
        |  round(ate_raw, 2) AS ate_raw_dollars,
        |  round(ate_raw - theta * pre_imb, 2) AS ate_cuped_dollars
        |FROM sol""".stripMargin,

    "q295_mediation" ->
      """WITH spend AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS ydol
        |  FROM orders GROUP BY 1),
        |base AS (SELECT
        |    CAST(floor(c_acctbal + 0.5) AS BIGINT) AS x,
        |    CAST(coalesce(m, 0) AS BIGINT) AS m,
        |    coalesce(ydol, 0) // 1000 AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(m * m) AS BIGINT) AS smm,
        |    CAST(sum(x * m) AS BIGINT) AS sxm,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(m * y) AS BIGINT) AS smy
        |  FROM base),
        |c AS (SELECT n, n * sxx - sx * sx AS cxx,
        |    n * smm - sm * sm AS cmm, n * sxm - sx * sm AS cxm,
        |    n * sxy - sx * sy AS cxy, n * smy - sm * sy AS cmy
        |  FROM mom),
        |sol AS (SELECT n, CAST(cxm AS DOUBLE) / cxx AS a,
        |    (CAST(cxx AS DOUBLE) * cmy - CAST(cxm AS DOUBLE) * cxy) /
        |      (CAST(cxx AS DOUBLE) * cmm - CAST(cxm AS DOUBLE) * cxm)
        |      AS b,
        |    (CAST(cmm AS DOUBLE) * cxy - CAST(cxm AS DOUBLE) * cmy) /
        |      (CAST(cxx AS DOUBLE) * cmm - CAST(cxm AS DOUBLE) * cxm)
        |      AS cp,
        |    CAST(cxy AS DOUBLE) / cxx AS ctot
        |  FROM c)
        |SELECT n, round(a, 6) AS a_mx, round(b, 6) AS b_ym,
        |  round(cp, 6) AS direct, round(ctot, 6) AS total,
        |  round(a * b, 6) AS indirect,
        |  round(a * b / ctot, 4) AS prop_mediated
        |FROM sol""".stripMargin,

    "q296_empirical_bayes" ->
      """WITH parts AS (SELECT l_partkey,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returns
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 5),
        |rates AS (SELECT CAST(n_returns AS DOUBLE) / n_lines AS r
        |  FROM parts),
        |p0 AS (SELECT CAST(count(*) AS BIGINT) AS np, avg(r) AS mu,
        |    sum(r * r) / count(*) AS m2 FROM rates),
        |p1 AS (SELECT np, mu, m2 - mu * mu AS v FROM p0),
        |p2 AS (SELECT np, mu, mu * (1.0 - mu) / v - 1 AS k FROM p1),
        |prior AS (SELECT np, mu * k AS alpha, (1.0 - mu) * k AS beta
        |  FROM p2),
        |shrunk AS (SELECT l_partkey, n_lines, n_returns,
        |    round(CAST(n_returns AS DOUBLE) / n_lines, 6) AS raw_rate,
        |    round((n_returns + alpha) / (n_lines + alpha + beta), 6)
        |      AS shrunk_rate,
        |    round(alpha, 4) AS prior_alpha, round(beta, 4) AS prior_beta
        |  FROM parts CROSS JOIN prior)
        |SELECT rank, l_partkey, n_lines, n_returns, raw_rate,
        |  shrunk_rate, prior_alpha, prior_beta
        |FROM (SELECT *, CAST(row_number() OVER (ORDER BY shrunk_rate
        |    DESC, n_lines DESC, l_partkey) AS BIGINT) AS rank
        |  FROM shrunk)
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    "q297_overdispersion" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, total,
        |  round(CAST(total AS DOUBLE) / n_days, 4) AS mean_per_day,
        |  round(CAST(n_days * ss - total * total AS DOUBLE) /
        |    (CAST(n_days AS DOUBLE) * (n_days - 1)), 4) AS variance,
        |  round(CAST(n_days * ss - total * total AS DOUBLE) /
        |    (CAST(n_days AS DOUBLE) * (n_days - 1)) /
        |    (CAST(total AS DOUBLE) / n_days), 4) AS dispersion_index
        |FROM g ORDER BY 1""".stripMargin,

    "q298_pca_2d" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS ydol
        |  FROM orders GROUP BY 1),
        |base AS (SELECT
        |    CAST(floor(c_acctbal + 0.5) AS BIGINT) AS x,
        |    coalesce(ydol, 0) // 1000 AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM base),
        |c AS (SELECT n, n * sxx - sx * sx AS cxx,
        |    n * syy - sy * sy AS cyy, n * sxy - sx * sy AS cxy
        |  FROM mom),
        |d AS (SELECT n, cxx, cyy, cxy,
        |    sqrt(pow(CAST(cxx AS DOUBLE) - cyy, 2) +
        |      4.0 * cxy * cxy) AS disc,
        |    CAST(n AS DOUBLE) * (n - 1) AS den
        |  FROM c)
        |SELECT n,
        |  round(cxy / sqrt(CAST(cxx AS DOUBLE) * cyy), 6) AS corr,
        |  round(((cxx + cyy) + disc) / (2.0 * den), 4) AS lambda1,
        |  round(((cxx + cyy) - disc) / (2.0 * den), 4) AS lambda2,
        |  round(((cxx + cyy) + disc) /
        |    (2.0 * CAST(cxx + cyy AS DOUBLE)), 6) AS evr1,
        |  round(0.5 * atan2(2.0 * cxy, CAST(cxx - cyy AS DOUBLE)) *
        |    (180.0 / pi()), 4) AS pc1_angle_deg
        |FROM d""".stripMargin,

    "q299_morans_i" ->
      """WITH attr AS (SELECT p_brand,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / (count(*) * 100.0) AS price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |xbar AS (SELECT avg(price) AS mu, CAST(count(*) AS BIGINT) AS nb
        |  FROM attr),
        |z AS (SELECT p_brand, price - mu AS z, nb
        |  FROM attr CROSS JOIN xbar),
        |items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT ba.p_brand AS b1, bb.p_brand AS b2,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  JOIN part ba ON a.l_partkey = ba.p_partkey
        |  JOIN part bb ON b.l_partkey = bb.p_partkey
        |  WHERE ba.p_brand <> bb.p_brand
        |  GROUP BY 1, 2),
        |cr AS (SELECT any_value(z2.nb) AS nb,
        |    2.0 * sum(w) AS sw,
        |    2.0 * sum(w * z1.z * z2.z) AS wzz
        |  FROM pairs JOIN z z1 ON b1 = z1.p_brand
        |  JOIN z z2 ON b2 = z2.p_brand),
        |den AS (SELECT sum(z * z) AS zz FROM z)
        |SELECT nb AS n_brands, CAST(sw AS BIGINT) AS sum_w,
        |  round(nb * wzz / (sw * zz), 4) AS morans_i,
        |  round(-1.0 / (nb - 1), 4) AS expected_i
        |FROM cr CROSS JOIN den""".stripMargin,

    "q300_winners_curse" ->
      """WITH seg AS (SELECT c_mktsegment AS segment,
        |    o_orderkey % 2 = 0 AS in_a,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |bysplit AS (SELECT segment,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN in_a THEN cents ELSE 0 END) AS DOUBLE) /
        |      sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS mean_a,
        |    CAST(sum(CASE WHEN NOT in_a THEN cents ELSE 0 END)
        |        AS DOUBLE) /
        |      sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS mean_b
        |  FROM seg GROUP BY 1)
        |SELECT segment AS winner_segment, n_a, n_b,
        |  round(mean_a, 2) AS mean_a_cents,
        |  round(mean_b, 2) AS mean_b_cents,
        |  round(mean_a - mean_b, 2) AS optimism_cents
        |FROM (SELECT *, row_number() OVER (ORDER BY mean_a DESC,
        |    segment) AS rk FROM bysplit)
        |WHERE rk = 1""".stripMargin

  )
}
