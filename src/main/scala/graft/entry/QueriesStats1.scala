package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF}
import graft.EntryShared._

/** Statistics gallery I — causal inference, survival, SPC, change-point and trend tests: q301-q375.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesStats1 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_conformal" -> ((s, dir) => {
      // Split-conformal prediction interval for order value: per-segment
      // mean fitted on the calibration half (orderkey parity), the 90%
      // residual quantile picked at the EXACT integer rank
      // ceil(0.9*(n+1)) via the two-phase ranker, honest coverage
      // measured on the other half. Residuals are doubles but derive
      // from identical exact sums on both engines, so ranks and the
      // coverage comparison agree bit-for-bit.
      val seg = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment").as("sg"),
          (col("o_orderkey") % 2 === 0).as("cal"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
      val model = seg.filter(col("cal")).groupBy(col("sg"))
        .agg((sum(col("cents")).cast("double") / count(lit(1))).as("m"))
      val resid = seg.join(broadcast(model), Seq("sg"))
        .select(col("o_orderkey"), col("cal"),
          abs(col("cents") - col("m")).as("r"))
      val calR = resid.filter(col("cal"))
      val nc = calR.agg(count(lit(1)).as("n_cal"))
      val qhat = PrefixSum.globalRank(calR,
          Seq(col("r"), col("o_orderkey")), "rk")
        .crossJoin(broadcast(nc))
        .filter(col("rk") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select(col("n_cal"), col("r").as("qhat"))
      resid.filter(!col("cal")).crossJoin(broadcast(qhat))
        .agg(first(col("n_cal")).as("n_cal"),
          count(lit(1)).as("n_test"),
          round(first(col("qhat")), 2).as("qhat_cents"),
          round(avg(when(col("r") <= col("qhat"), 1.0).otherwise(0.0)), 4)
            .as("coverage"))
    }),

    "q302_wasserstein" -> ((s, dir) => {
      // Exact 1-D Wasserstein (earth-mover) distance between the ASIA
      // and EUROPE acctbal distributions: integral |F_a - F_b| as
      // Sum |CA*nb - CB*na| * (v_next - v) over the distinct-value
      // table — EXACT integers until one final division by na*nb (the
      // transport-cost companion to q293's energy distance). Value gaps
      // come from a rank self-join (two-phase ranker), never a global
      // lead window.
      val geo = asiaEuropeBalances(s, dir)
      val byVal = geo.groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
        .withColumn("__g", lit(1))
      // both cumulative counts in ONE two-phase pass (chaining the single
      // version re-ranges and re-materializes the grid per column)
      val cum = PrefixSum.groupedRunningSums(byVal, "__g", "v",
        Seq((col("ca"), "cca"), (col("cb"), "ccb")))
      val ranked = PrefixSum.globalRank(cum, Seq(col("v")), "rk")
      val nxt = ranked.select((col("rk") - 1).as("rk"), col("v").as("vn"))
      // totals from the pass's materialized output, not a re-executed grid
      val tot = cum.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      ranked.join(nxt, Seq("rk"))
        .crossJoin(broadcast(tot))
        .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
          sum(abs(col("cca") * col("nb") - col("ccb") * col("na")) *
            (col("vn") - col("v"))).as("num"))
        .select(col("n_a"), col("n_b"),
          round(col("num") / (col("n_a") * col("n_b")).cast("double") /
            lit(100.0), 4).as("w1_dollars"))
    }),

    "q303_term_burstiness" -> ((s, dir) => {
      // Church-Gale term burstiness: for the 10 highest-frequency terms,
      // observed document frequency vs the Poisson prediction
      // D*(1-exp(-cf/D)) — burstiness below 1 means occurrences CLUMP
      // into few documents (adaptation), the corpus-linguistics signal
      // behind df-based boilerplate filters. One token explode + one
      // per-term aggregate; ranking by exact integer (cf, term).
      val docs = t(s, dir, "documents")
      val nD = docs.agg(count(lit(1)).as("d"))
      val terms = docs
        .select(col("doc_id"), explode(TF.normTokens(col("text")))
          .as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("term"))
        .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      PrefixSum.globalRank(terms, Seq(col("cf").desc, col("term")), "rk")
        .filter(col("rk") <= 10)
        .crossJoin(broadcast(nD))
        .select(col("rk").as("rank"), col("term"), col("cf"), col("df"),
          round(col("cf").cast("double") / col("df"), 4)
            .as("adaptation"),
          round(col("d") * (lit(1.0) -
            exp(-col("cf").cast("double") / col("d"))), 2).as("df_pred"),
          round(col("d") * (lit(1.0) -
            exp(-col("cf").cast("double") / col("d"))) / col("df"), 4)
            .as("burstiness"))
        .orderBy(col("rank"))
    }),

    "q304_circular_stats" -> ((s, dir) => {
      // Circular statistics of event time-of-day: mean direction and
      // resultant length on the 24 h circle per event type, plus the
      // Rayleigh uniformity test (z = nR^2, p ~ exp(-z)) — the correct
      // way to average times that wrap at midnight (a 23:00/01:00 mix
      // averages to 00:00, not 12:00). Angles from exact integer
      // minute-of-day; one aggregate pass per type.
      val ev = events(s, dir)
        .select(col("event_type"),
          (expr("(unix_micros(ts) div 60000000) % 1440"))
            .as("m"))
        .select(col("event_type"),
          (lit(2 * math.Pi) * col("m") / lit(1440.0)).as("theta"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cos(col("theta"))).as("c"),
          sum(sin(col("theta"))).as("ss"))
        .select(col("event_type"), col("n"),
          (sqrt(col("c") * col("c") + col("ss") * col("ss")) / col("n"))
            .as("r"),
          atan2(col("ss"), col("c")).as("ang"))
        .select(col("event_type"), col("n"), round(col("r"), 6)
            .as("resultant_r"),
          round((when(col("ang") < 0, col("ang") + lit(2 * math.Pi))
            .otherwise(col("ang")) * lit(24.0 / (2 * math.Pi))), 4)
            .as("mean_hour"),
          round(col("n") * col("r") * col("r"), 4).as("rayleigh_z"),
          round(exp(-col("n") * col("r") * col("r")), 6).as("p_uniform"))
        .orderBy(col("event_type"))
    }),

    "q305_twfe" -> ((s, dir) => {
      // Two-way fixed-effects (within) estimator on the brand x year
      // revenue/quantity panel: double-demeaned ln-ln slope — the
      // workhorse panel elasticity with brand and year effects swept
      // out. The panel is bounded (|brands| x |years|), so the demeaning
      // means are window sums over it (q288 pattern); the only
      // data-sized pass is the panel rollup in exact integer cents.
      val panel = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS " +
          "BIGINT)")).as("cents"),
          sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("qty"))
        .select(col("p_brand"), col("yr"),
          log(col("cents").cast("double")).as("y"),
          log(col("qty").cast("double")).as("x"))
      val wB = Window.partitionBy(col("p_brand"))
      val wY = Window.partitionBy(col("yr"))
      val g = panel.agg(avg(col("y")).as("gy"), avg(col("x")).as("gx"),
        count(lit(1)).as("n_cells"))
      val dm = panel
        .withColumn("by_", avg(col("y")).over(wB))
        .withColumn("bx", avg(col("x")).over(wB))
        .withColumn("yy", avg(col("y")).over(wY))
        .withColumn("yx", avg(col("x")).over(wY))
        .crossJoin(broadcast(g))
        .select(col("n_cells"),
          (col("y") - col("by_") - col("yy") + col("gy")).as("yt"),
          (col("x") - col("bx") - col("yx") + col("gx")).as("xt"))
      dm.groupBy(col("n_cells"))
        .agg(sum(col("xt") * col("yt")).as("sxy"),
          sum(col("xt") * col("xt")).as("sxx"),
          sum(col("yt") * col("yt")).as("syy"))
        .select(col("n_cells"),
          round(col("sxy") / col("sxx"), 6).as("twfe_slope"),
          round(col("sxy") * col("sxy") / (col("sxx") * col("syy")), 6)
            .as("within_r2"))
    }),

    "q306_root_cause" -> ((s, dir) => {
      // Adtributor-style root-cause attribution for a month-over-month
      // revenue move (1995-07 -> 1995-08): per dimension value
      // (segment and region, stacked), explanatory power
      // (a_i - f_i)/(A - F) and the pointwise Jensen-Shannon surprise
      // between composition shares. Dimension tables are bounded; the
      // data-sized passes are the two monthly rollups in exact cents.
      val geo = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP '1995-07-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_mktsegment").as("seg"), col("r_name").as("reg"),
          (month(col("o_orderdate")) === 7).as("before"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
      val stacked = geo
        .select(lit("segment").as("dimension"), col("seg").as("value"),
          col("before"), col("cents"))
        .unionAll(geo.select(lit("region").as("dimension"),
          col("reg").as("value"), col("before"), col("cents")))
      val cells = stacked.groupBy(col("dimension"), col("value"))
        .agg(sum(when(col("before"), col("cents")).otherwise(0L))
            .as("f"),
          sum(when(!col("before"), col("cents")).otherwise(0L)).as("a"))
      val wD = Window.partitionBy(col("dimension"))
      cells
        .withColumn("tf", sum(col("f")).over(wD))
        .withColumn("ta", sum(col("a")).over(wD))
        .select(col("dimension"), col("value"), col("f").as("f_cents"),
          col("a").as("a_cents"),
          round((col("a") - col("f")).cast("double") /
            (col("ta") - col("tf")), 4).as("explanatory_power"),
          round(
            (when(col("f") === 0, lit(0.0)).otherwise(
              col("f").cast("double") / col("tf") *
              log(lit(2.0) * (col("f").cast("double") / col("tf")) /
                (col("f").cast("double") / col("tf") +
                  col("a").cast("double") / col("ta")))) +
             when(col("a") === 0, lit(0.0)).otherwise(
              col("a").cast("double") / col("ta") *
              log(lit(2.0) * (col("a").cast("double") / col("ta")) /
                (col("f").cast("double") / col("tf") +
                  col("a").cast("double") / col("ta"))))) * lit(0.5), 6)
            .as("js_surprise"))
        .orderBy(col("dimension"), col("value"))
    }),

    "q307_gravity_model" -> ((s, dir) => {
      // Trade-gravity regression on the customer-nation x supplier-
      // nation flow matrix: ln(flow) on (ln origin mass, ln destination
      // mass) via the closed-form two-regressor OLS (q295 machinery).
      // Masses are window sums over the bounded nation x nation cell
      // table; the only data-sized pass is the flow rollup in exact
      // cents. The textbook b1~b2~1 gravity shape is the check.
      val flows = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("cn")),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey").as("sn")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("cn"), col("sn"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS " +
          "BIGINT)")).as("cents"))
      val wC = Window.partitionBy(col("cn"))
      val wS = Window.partitionBy(col("sn"))
      val cells = flows
        .withColumn("mc", sum(col("cents")).over(wC))
        .withColumn("ms", sum(col("cents")).over(wS))
        .select(log(col("cents").cast("double")).as("y"),
          log(col("mc").cast("double")).as("x1"),
          log(col("ms").cast("double")).as("x2"))
      val mom = cells.agg(count(lit(1)).as("n"),
        avg(col("y")).as("my"), avg(col("x1")).as("m1"),
        avg(col("x2")).as("m2"),
        (sum(col("x1") * col("x1")) / count(lit(1))).as("e11"),
        (sum(col("x2") * col("x2")) / count(lit(1))).as("e22"),
        (sum(col("x1") * col("x2")) / count(lit(1))).as("e12"),
        (sum(col("x1") * col("y")) / count(lit(1))).as("e1y"),
        (sum(col("x2") * col("y")) / count(lit(1))).as("e2y"))
      val c = mom.select(col("n"), col("my"), col("m1"), col("m2"),
        (col("e11") - col("m1") * col("m1")).as("c11"),
        (col("e22") - col("m2") * col("m2")).as("c22"),
        (col("e12") - col("m1") * col("m2")).as("c12"),
        (col("e1y") - col("m1") * col("my")).as("c1y"),
        (col("e2y") - col("m2") * col("my")).as("c2y"))
      c.select(col("n").as("n_cells"),
          ((col("c22") * col("c1y") - col("c12") * col("c2y")) /
            (col("c11") * col("c22") - col("c12") * col("c12")))
            .as("b1"),
          ((col("c11") * col("c2y") - col("c12") * col("c1y")) /
            (col("c11") * col("c22") - col("c12") * col("c12")))
            .as("b2"), col("my"), col("m1"), col("m2"))
        .select(col("n_cells"), round(col("b1"), 6).as("beta_origin"),
          round(col("b2"), 6).as("beta_dest"),
          round(col("my") - col("b1") * col("m1") -
            col("b2") * col("m2"), 4).as("intercept"))
    }),

    "q308_chain_ladder" -> ((s, dir) => {
      // Actuarial chain-ladder on the order-cohort x ship-lag
      // development triangle: cumulative cents C(cohort, dev) via a
      // per-cohort window over the bounded dev axis, volume-weighted
      // link factors f_j from every (j, j+1) pair both observable at
      // the calendar edge, and the cumulative-to-ultimate product per
      // dev. Exact integers until the factor divisions; the triangle
      // itself is calendar-bounded.
      val base = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("coh"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) -
            year(col("o_orderdate")) * 12 - month(col("o_orderdate")))
            .cast("long").as("dev"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        // the synthetic ship dates carry outlier lags (incl. negative);
        // a development triangle is defined on the 0..6-month window
        .filter(col("dev") >= 0 && col("dev") <= 6)
      val tri = base.groupBy(col("coh"), col("dev"))
        .agg(sum(col("cents")).as("x"))
      val mx = base.agg(max(col("coh") + col("dev")).as("mcal"))
      // per-cohort dev axis is bounded (ship lag <= a few months)
      val wCum = Window.partitionBy(col("coh")).orderBy(col("dev"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = tri.withColumn("c", sum(col("x")).over(wCum))
      val nxt = cum.select(col("coh"), (col("dev") - 1).as("dev"),
        col("c").as("c_next"))
      val fac = cum.join(nxt, Seq("coh", "dev"))
        .crossJoin(broadcast(mx))
        .filter(col("coh") + col("dev") + 1 <= col("mcal"))
        .groupBy(col("dev"))
        .agg(count(lit(1)).as("n_cohorts"), sum(col("c")).as("sc"),
          sum(col("c_next")).as("sn"))
        .select(col("dev"), col("n_cohorts"),
          (col("sn").cast("double") / col("sc")).as("f"))
      // bounded dev rows: suffix product via ln-sum window
      fac.withColumn("cum_to_ult",
          exp(sum(log(col("f"))).over(
            Window.orderBy(col("dev").desc)
              .rowsBetween(Window.unboundedPreceding, 0))))
        .select(col("dev").as("dev_month"), col("n_cohorts"),
          round(col("f"), 6).as("link_factor"),
          round(col("cum_to_ult"), 6).as("to_ultimate"))
        .orderBy(col("dev_month"))
    }),

    "q309_rake_keywords" -> ((s, dir) => {
      // RAKE keyword extraction: candidate phrases are maximal stopword-
      // free token runs (gaps-and-islands via a running stopword count),
      // word score = degree/frequency over phrase co-occurrence, phrase
      // score = sum of member word scores; global top-10. Per-doc
      // windows are document-bounded; word scores are exact-integer
      // ratios; the final ranking orders by the ROUNDED score with
      // string/id tie-breaks.
      val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
        "is", "on", "for", "with", "as", "by", "at", "it", "this",
        "that", "be", "are", "was", "from")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TF.normTokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("is_stop", col("tok").isInCollection(stop))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val words = toks
        .withColumn("run",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("is_stop"))
      val wRun = Window.partitionBy(col("doc_id"), col("run"))
      val withLen = words.withColumn("plen", count(lit(1)).over(wRun))
      val wscore = withLen.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("tok"),
          (col("deg").cast("double") / col("freq")).as("ws"))
      val phrases = withLen.join(wscore, Seq("tok"))
        .groupBy(col("doc_id"), col("run"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("phrase"),
          count(lit(1)).as("n_words"), sum(col("ws")).as("score"))
      PrefixSum.globalRank(
          phrases.withColumn("score_r", round(col("score"), 4)),
          Seq(col("score_r").desc, col("phrase"), col("doc_id"),
            col("run")), "rk")
        .filter(col("rk") <= 10)
        .select(col("rk").as("rank"), col("phrase"), col("doc_id"),
          col("n_words"), col("score_r").as("score"))
        .orderBy(col("rank"))
    }),

    "q310_control_chart" -> ((s, dir) => {
      // Shewhart X-bar/R control chart over weekly subgroups (n=7) of
      // daily revenue: centerline and A2/D4 limits from the published
      // n=7 constants, out-of-control and range-violation counts.
      // Subgroup stats stay exact integers (weekly totals, integer
      // ranges); the limits are fixed-order doubles, so the violation
      // comparisons agree across engines. Calendar-bounded week table.
      val daily = dailyOrderCents(s, dir)
      val d0 = daily.agg(min(col("day")).as("dmin"))
      val weeks = daily.crossJoin(broadcast(d0))
        .select(expr("datediff(day, dmin) div 7").as("wk"), col("cents"))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("nd"), sum(col("cents")).as("tot"),
          (max(col("cents")) - min(col("cents"))).as("r"))
        .filter(col("nd") === 7)
      val lims = weeks.agg(count(lit(1)).as("n_weeks"),
          (sum(col("tot")).cast("double") /
            (count(lit(1)) * 7)).as("xbb"),
          (sum(col("r")).cast("double") / count(lit(1))).as("rbar"))
        .select(col("n_weeks"), col("xbb"), col("rbar"),
          (col("xbb") + lit(0.419) * col("rbar")).as("ucl"),
          (col("xbb") - lit(0.419) * col("rbar")).as("lcl"),
          (lit(1.924) * col("rbar")).as("ucl_r"))
      weeks.crossJoin(broadcast(lims))
        .agg(first(col("n_weeks")).as("n_weeks"),
          round(first(col("xbb")) / 100, 2).as("center_daily"),
          round(first(col("ucl")) / 100, 2).as("ucl_daily"),
          round(first(col("lcl")) / 100, 2).as("lcl_daily"),
          sum(when(col("tot").cast("double") > lit(7.0) * col("ucl"),
            1L).otherwise(0L)).as("n_above"),
          sum(when(col("tot").cast("double") < lit(7.0) * col("lcl"),
            1L).otherwise(0L)).as("n_below"),
          sum(when(col("r").cast("double") > col("ucl_r"), 1L)
            .otherwise(0L)).as("n_range_viol"))
    }),

    "q311_fairness_audit" -> ((s, dir) => {
      // Group-fairness audit of the "balance above median" heavy-buyer
      // screen across regions: per-region selection rate (demographic
      // parity), TPR and FPR (equalized odds), with the corpus-wide
      // max-min parity gap as a constant column via a window over the
      // bounded region rows. Median threshold from the exact integer
      // rank n div 2; every rate is an exact-count ratio.
      val y = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"))
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
      val nTot = geo.agg(count(lit(1)).as("n"))
      val med = PrefixSum.globalRank(geo,
          Seq(col("x"), col("c_custkey")), "rk")
        .crossJoin(broadcast(nTot))
        .filter(col("rk") === expr("n div 2"))
        .select(col("x").as("thr"))
      val base = geo.crossJoin(broadcast(med))
        .join(y, col("c_custkey") === col("o_custkey"), "left")
        .select(col("r_name"), (col("x") > col("thr")).as("pred"),
          (coalesce(col("n_ord"), lit(0L)) > 5).as("pos"))
      val byG = base.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("sel"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pred") && col("pos"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && !col("pos"), 1L).otherwise(0L))
            .as("fp"))
        .select(col("r_name"), col("n"),
          (col("sel").cast("double") / col("n")).as("sr"),
          when(col("np") === 0, lit(null))
            .otherwise(col("tp").cast("double") / col("np")).as("tpr"),
          when(col("n") === col("np"), lit(null))
            .otherwise(col("fp").cast("double") /
              (col("n") - col("np"))).as("fpr"))
      // bounded region rows: whole-set window for the corpus gap
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      byG.select(col("r_name"), col("n"), round(col("sr"), 6)
            .as("selection_rate"),
          round(col("tpr"), 6).as("tpr"), round(col("fpr"), 6).as("fpr"),
          round(max(col("sr")).over(wAll) - min(col("sr")).over(wAll), 6)
            .as("parity_gap"))
        .orderBy(col("r_name"))
    }),

    "q312_mobility_matrix" -> ((s, dir) => {
      // Customer spend-quintile transition matrix 1995 -> 1996 with the
      // Shorrocks mobility index (k - trace)/(k-1): quintiles per year
      // from exact global ranks (q178 arithmetic: 1 + (rank-1)*5 div n),
      // transitions over customers active both years, row shares and
      // the trace via windows over the bounded 5x5 matrix.
      val yearly = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
      def quintiles(yr: Int): DataFrame = {
        val sub = yearly.filter(col("yr") === yr)
        val n = sub.agg(count(lit(1)).as("n"))
        PrefixSum.globalRank(sub,
            Seq(col("cents").desc, col("o_custkey")), "rk")
          .crossJoin(broadcast(n))
          .select(col("o_custkey"),
            expr("1 + ((rk - 1) * 5) div n").as(s"q$yr"))
      }
      val both = quintiles(1995).join(quintiles(1996), "o_custkey")
      val cells = both.groupBy(col("q1995"), col("q1996"))
        .agg(count(lit(1)).as("n"))
      val wRow = Window.partitionBy(col("q1995"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      cells
        .withColumn("share",
          col("n").cast("double") / sum(col("n")).over(wRow))
        .withColumn("mobility", round((lit(5.0) -
          sum(when(col("q1995") === col("q1996"), col("share"))
            .otherwise(0.0)).over(wAll)) / 4, 6))
        .select(col("q1995"), col("q1996"), col("n"),
          round(col("share"), 4).as("share"), col("mobility"))
        .orderBy(col("q1995"), col("q1996"))
    }),

    "q313_threshold_opt" -> ((s, dir) => {
      // Decision-threshold optimization for the balance -> heavy-buyer
      // screen: sweep EVERY distinct score as a cut via prefix sums
      // over the value-grouped table (no per-threshold rescan), pick
      // the F1-optimal and Youden-J-optimal operating points. Counts
      // are exact; objectives are rounded before the argmax ranking so
      // float division can't flip the winner across engines.
      val y = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
        .join(y, col("c_custkey") === col("o_custkey"), "left")
        .select(col("x"),
          when(coalesce(col("n_ord"), lit(0L)) > 5, 1L).otherwise(0L)
            .as("pos"))
      val byVal = base.groupBy(col("x"))
        .agg(count(lit(1)).as("nv"), sum(col("pos")).as("pv"))
        .withColumn("__g", lit(1))
      val cum = PrefixSum.groupedRunningSums(byVal, "__g", "x",
        Seq((col("nv"), "cn"), (col("pv"), "cp")))
      val tot = cum.agg(sum(col("nv")).as("n"), sum(col("pv")).as("p"))
      val pts = cum.crossJoin(broadcast(tot))
        .select(col("x").as("thr"),
          (col("p") - col("cp")).as("tp"),
          ((col("n") - col("cn")) - (col("p") - col("cp"))).as("fp"),
          col("cp").as("fn"), col("n"), col("p"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          round(lit(2.0) * col("tp") /
            (lit(2.0) * col("tp") + col("fp") + col("fn")), 6).as("f1"),
          round(col("tp").cast("double") / col("p") -
            col("fp").cast("double") / (col("n") - col("p")), 6).as("j"))
      val bestF1 = PrefixSum.globalRank(pts,
          Seq(col("f1").desc, col("thr")), "rk")
        .filter(col("rk") === 1)
        .select(col("thr").as("f1_threshold_cents"), col("f1"),
          col("tp"), col("fp"), col("fn"))
      val bestJ = PrefixSum.globalRank(pts,
          Seq(col("j").desc, col("thr")), "rk")
        .filter(col("rk") === 1)
        .select(col("thr").as("youden_threshold_cents"),
          col("j").as("youden_j"))
      bestF1.crossJoin(bestJ)
    }),

    "q314_records_test" -> ((s, dir) => {
      // Records test for i.i.d.-ness of daily revenue: the number of
      // running-maximum record days vs the H_n = sum 1/k expectation
      // (variance sum 1/k - 1/k^2) — record-value theory says trends
      // inflate the count. Running max over the calendar-bounded day
      // series; harmonic sums from the exact day index, one pass.
      val daily = dailyOrderCents(s, dir)
      // calendar-bounded series: a global ordered window is safe here
      val wPrev = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val idx = PrefixSum.globalRank(daily, Seq(col("day")), "k")
        .withColumn("isrec",
          when(col("cents") > coalesce(max(col("cents")).over(wPrev),
            lit(Long.MinValue)), 1L).otherwise(0L))
      idx.agg(count(lit(1)).as("n_days"),
          sum(col("isrec")).as("n_records"),
          sum(lit(1.0) / col("k")).as("h"),
          sum(lit(1.0) / col("k") -
            lit(1.0) / (col("k") * col("k"))).as("v"),
          max(when(col("isrec") === 1, col("day"))).as("last_record_day"))
        .select(col("n_days"), col("n_records"),
          round(col("h"), 4).as("expected_records"),
          round((col("n_records") - col("h")) / sqrt(col("v")), 4)
            .as("z"),
          date_format(col("last_record_day"), "yyyy-MM-dd")
            .as("last_record_day"))
    }),

    "q315_erlang_c" -> ((s, dir) => {
      // Erlang-C staffing table from the event arrival stream: offered
      // load A = lambda * 3-minute mean handle time, wait probability
      // and average speed of answer for 1..10 agents — the queueing-
      // theory capacity planner. The only data-sized pass is the
      // arrival-count aggregate; the c x k factorial expansion is a
      // bounded 55-row grid (Spark/DuckDB share exact factorial and
      // pow semantics at these magnitudes).
      val span = events(s, dir)
        .agg(count(lit(1)).as("ne"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("span_us"))
        .select((col("ne") * lit(3.6e9) / col("span_us"))
          .as("lam_hr"))
        .select(col("lam_hr"), (col("lam_hr") * lit(0.05)).as("a"))
      val cs = s.range(1, 11).select(col("id").as("c"))
      val ks = s.range(0, 10).select(col("id").as("k"))
      val sums = cs.join(ks, col("k") < col("c"))
        .crossJoin(broadcast(span))
        .select(col("c"), col("a"),
          (pow(col("a"), col("k").cast("double")) /
            factorial(col("k").cast("int")).cast("double")).as("term"))
        .groupBy(col("c"), col("a"))
        .agg(sum(col("term")).as("s0"))
      sums
        .select(col("c"), col("a"), col("s0"),
          (pow(col("a"), col("c").cast("double")) /
            factorial(col("c").cast("int")).cast("double")).as("tc"),
          (col("a") / col("c").cast("double")).as("rho"))
        .filter(col("rho") < 1)
        .select(col("c"), round(col("a"), 4).as("offered_erlangs"),
          round(col("rho"), 4).as("rho"),
          round(col("tc") / ((lit(1.0) - col("rho")) * col("s0") +
            col("tc")), 6).as("p_wait"),
          round(col("tc") / ((lit(1.0) - col("rho")) * col("s0") +
            col("tc")) * lit(3.0) /
            (col("c").cast("double") - col("a")), 6).as("asa_minutes"))
        .orderBy(col("c"))
    }),

    "q316_esd_outliers" -> ((s, dir) => {
      // Generalized-ESD (Grubbs-iterated) outlier hunt on monthly
      // revenue: three unrolled rounds, each recomputing mean/sd from
      // exact integer-dollar moments, scoring R = max|v-mean|/sd and
      // removing the winner (values in exact integer kilodollars so
      // squares stay in long range at any SF). The month table is
      // calendar-bounded, so
      // every round is broadcast arithmetic; deviations are identical
      // float expressions on both engines, rounded before the argmax.
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).cast("long").as("mid"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS " +
          "BIGINT)) div 100000 AS BIGINT)").as("v"))
      def esdRound(df: DataFrame, i: Int): (DataFrame, DataFrame) = {
        val st = df.agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(col("v") * col("v")).as("ss"))
        val scored = df.crossJoin(broadcast(st))
          .select(col("mid"), col("v"),
            round(abs(col("v") - col("s").cast("double") / col("n")) /
              sqrt((col("n") * col("ss") - col("s") * col("s"))
                .cast("double") /
                (col("n").cast("double") * (col("n") - 1))), 6)
              .as("r_stat"))
        val ranked = PrefixSum.globalRank(scored,
          Seq(col("r_stat").desc, col("mid")), "rk")
        (ranked.filter(col("rk") === 1)
          .select(lit(i.toLong).as("round"), col("mid").as("month_id"),
            col("v").as("value_kusd"), col("r_stat")),
          ranked.filter(col("rk") =!= 1).select(col("mid"), col("v")))
      }
      val (o1, r1) = esdRound(monthly, 1)
      val (o2, r2) = esdRound(r1, 2)
      val (o3, _) = esdRound(r2, 3)
      o1.unionAll(o2).unionAll(o3).orderBy(col("round"))
    }),

    "q317_quantile_norm" -> ((s, dir) => {
      // Quantile normalization (the batch-effect corrector): each
      // region's acctbal deciles are mapped onto the cross-region mean
      // decile curve; the report is the per-(region, decile) shift.
      // Per-region ranks come from the grouped two-phase prefix sum
      // over a synthesized unique order key (no region-sized window
      // task); decile picks are exact integer ranks.
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"),
          col("c_custkey"))
        // unique in-group order key; custkey < 2^24 at these SFs
        .select(col("r_name"), col("x"),
          (col("x") * lit(16777216L) + col("c_custkey")).as("ok"))
      val ranked = PrefixSum.groupedRunningSum(
        geo.withColumn("one", lit(1L)), "r_name", "ok", col("one"), "rk")
      val nR = geo.groupBy(col("r_name")).agg(count(lit(1)).as("nr"))
      val cuts = ranked.join(broadcast(nR), Seq("r_name"))
        .join(broadcast(s.range(1, 10).select(col("id").as("d"))),
          col("rk") === expr("(d * nr) div 10"))
        .select(col("r_name"), col("d"), col("x"))
      val target = cuts.groupBy(col("d"))
        .agg((sum(col("x")).cast("double") / count(lit(1))).as("tgt"))
      cuts.join(broadcast(target), Seq("d"))
        .select(col("r_name"), col("d").as("decile"),
          round(col("x") / lit(100.0), 2).as("value_dollars"),
          round(col("tgt") / 100, 2).as("target_dollars"),
          round((col("x") - col("tgt")) / 100, 2).as("shift_dollars"))
        .orderBy(col("r_name"), col("decile"))
    }),

    "q318_order_reconciliation" -> ((s, dir) => {
      // Finance reconciliation audit: recompute each order's total from
      // its lines (extprice * (1-disc) * (1+tax), rounded to cents per
      // line) and diff against o_totalprice. One grouped pass; the
      // worst offender is picked by rounded relative gap with an
      // integer tie-break. The header-vs-detail mismatch census every
      // billing pipeline needs.
      val lines = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * (1 - l_discount) * " +
          "(1 + l_tax) * 100 + 0.5) AS BIGINT)")).as("calc"))
      val recon = t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("stated"))
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("stated"),
          (col("calc") - col("stated")).as("gap"),
          round(abs(col("calc") - col("stated")).cast("double") /
            col("stated"), 6).as("rel_gap"))
      val summary = recon.agg(count(lit(1)).as("n_orders"),
        sum(when(col("gap") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("rel_gap") > 0.01, 1L).otherwise(0L))
          .as("n_flagged"),
        sum(abs(col("gap"))).as("total_abs_gap_cents"))
      val worst = PrefixSum.globalRank(recon,
          Seq(col("rel_gap").desc, col("o_orderkey")), "rk")
        .filter(col("rk") === 1)
        .select(col("o_orderkey").as("worst_orderkey"),
          col("rel_gap").as("worst_rel_gap"))
      summary.crossJoin(broadcast(worst))
    }),

    "q319_kruskal_wallis" -> ((s, dir) => {
      // Kruskal-Wallis k-sample rank test: do the five market segments
      // draw acctbal from one distribution? Tied average ranks stay
      // exact integers (ar2 = 2*cumBefore + cnt + 1) over the
      // value-grouped table, per-segment rank sums are one aggregate,
      // and the tie-corrected H with its closed-form df=4 chi-square
      // survival exp(-x/2)(1+x/2) is broadcast arithmetic. The prefix
      // sum is the two-phase ranker — no data-sized window task.
      val base = t(s, dir, "customer")
        .select(col("c_mktsegment").as("sg"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
      val byVS = base.groupBy(col("v"), col("sg"))
        .agg(count(lit(1)).as("c"))
      val byV = byVS.groupBy(col("v")).agg(sum(col("c")).as("cv"))
        .withColumn("__g", lit(1))
      val cum = PrefixSum.groupedRunningSum(byV, "__g", "v", col("cv"),
          "run")
        .select(col("v"), col("cv"), (col("run") - col("cv")).as("bef"))
      val perSeg = byVS.join(cum, Seq("v"))
        .select(col("sg"), col("c"),
          (lit(2L) * col("bef") + col("cv") + lit(1L)).as("ar2"))
        .groupBy(col("sg"))
        .agg(sum(col("c")).as("n_g"), sum(col("c") * col("ar2")).as("r2"))
      val ties = cum.agg(
        sum(col("cv") * col("cv") * col("cv") - col("cv")).as("tc"))
      val stat = perSeg
        .agg(sum(col("n_g")).as("n"),
          sum(col("r2").cast("double") * col("r2") /
            (lit(4.0) * col("n_g"))).as("sr"))
        .crossJoin(broadcast(ties))
        .select(col("n").as("n_total"),
          ((lit(12.0) / (col("n").cast("double") * (col("n") + 1)) *
            col("sr") - lit(3.0) * (col("n") + 1)) /
            (lit(1.0) - col("tc").cast("double") /
              (col("n") * col("n") * col("n") - col("n")))).as("hc"))
        .select(col("n_total"), round(col("hc"), 4).as("h_tied"),
          round(exp(-col("hc") / 2) * (lit(1.0) + col("hc") / 2), 6)
            .as("p_value"))
      perSeg.crossJoin(broadcast(stat))
        .select(col("sg").as("segment"), col("n_g").as("n"),
          round(col("r2").cast("double") / (lit(2.0) * col("n_g")), 2)
            .as("mean_rank"),
          col("n_total"), col("h_tied"), col("p_value"))
        .orderBy(col("segment"))
    }),

    "q320_spatial_grid_join" -> ((s, dir) => {
      // Grid-bucketed spatial radius join — the scale-safe point-radius
      // pattern: deterministic LCG coordinates on a 1M x 1M integer
      // grid, cell id = coord div radius, the SMALL side (suppliers)
      // expanded to its 3x3 neighbor cells, equi-join on the cell id,
      // then an EXACT integer dx^2+dy^2 <= r^2 verify. No cross join at
      // any scale: the shuffle key is the cell, candidate volume is
      // bounded by local density, and the 9x expansion rides the
      // smaller side only. Growth caveat (measured, BENCH_NOTES_r7 §5):
      // with BOTH sides growing on a FIXED space at a FIXED radius, the
      // OUTPUT itself is quadratic (pairs = N*M*pi*r^2/A; measured
      // 72.9k -> 7.3M -> 65.6M at 1x/10x/30x) — the join stays linear
      // in that output (CPU/pair flat at ~10-16us), which is the lower
      // bound for the semantics; a real growing corpus grows its space
      // or shrinks its radius.
      val r = 40000L
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"),
          pmod(col("c_custkey") * 1103515245L + 12345L, lit(1000000L))
            .as("x"),
          pmod(col("c_custkey") * 69069L + 1L, lit(1000000L)).as("y"))
        .withColumn("cx", expr(s"x div $r"))
        .withColumn("cy", expr(s"y div $r"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey").as("sk"),
          pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L))
            .as("sx"),
          pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L))
            .as("sy"))
      val offs = s.range(-1, 2).select(col("id").as("dx"))
        .crossJoin(s.range(-1, 2).select(col("id").as("dy")))
      val supx = supp.crossJoin(broadcast(offs))
        .select(col("sk"), col("sx"), col("sy"),
          (expr(s"sx div $r") + col("dx")).as("cx"),
          (expr(s"sy div $r") + col("dy")).as("cy"))
      val pairs = cust.join(supx, Seq("cx", "cy"))
        .select(col("ck"), col("sk"),
          ((col("x") - col("sx")) * (col("x") - col("sx")) +
            (col("y") - col("sy")) * (col("y") - col("sy"))).as("d2"))
        .filter(col("d2") <= lit(r * r))
      val summary = pairs.agg(count(lit(1)).as("n_pairs"),
        round(avg(sqrt(col("d2").cast("double"))), 2).as("avg_dist"))
      PrefixSum.globalRank(pairs,
          Seq(col("d2"), col("ck"), col("sk")), "rk")
        .filter(col("rk") <= 5)
        .crossJoin(broadcast(summary))
        .select(col("rk").as("rank"), col("ck").as("custkey"),
          col("sk").as("suppkey"),
          round(sqrt(col("d2").cast("double")), 2).as("dist"),
          col("n_pairs"), col("avg_dist"))
        .orderBy(col("rank"))
    }),

    "q321_poisson_bootstrap" -> ((s, dir) => {
      // Poisson bootstrap — the bootstrap that scales: instead of
      // resampling passes, every row draws an independent Poisson(1)
      // weight per replicate (inverse CDF over a 31-bit LCG uniform
      // computed with exact integer arithmetic on both engines), so 200
      // replicates are one map-side explode + one partial-aggregating
      // pass; nothing data-sized is ever re-shuffled per replicate.
      // The replicate table is 200 bounded rows; the 95% CI is an exact
      // rank pick over it (u = m/2^31 is exact in double: power-of-two
      // denominator).
      val pois = "CASE WHEN u < 0.36787944117144233 THEN 0 " +
        "WHEN u < 0.7357588823428847 THEN 1 " +
        "WHEN u < 0.9196986029286058 THEN 2 " +
        "WHEN u < 0.9810118431238462 THEN 3 " +
        "WHEN u < 0.9963401531726563 THEN 4 " +
        "WHEN u < 0.9994058151824183 THEN 5 " +
        "WHEN u < 0.9999167588507119 THEN 6 " +
        "WHEN u < 0.9999897508033253 THEN 7 " +
        "WHEN u < 0.9999988805718283 THEN 8 ELSE 9 END"
      val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      val perRep = base
        .withColumn("rep", explode(expr("sequence(0, 199)")))
        .withColumn("u",
          pmod(col("k") * 1103515245L + col("rep") * 40503L + 12345L,
            lit(2147483648L)).cast("double") / lit(2.147483648e9))
        .withColumn("w", expr(pois).cast("long"))
        .groupBy(col("rep"))
        .agg(sum(col("w") * col("cents")).as("sw"),
          sum(col("w")).as("m"))
        .select(col("rep"),
          round(col("sw").cast("double") / col("m") / 100.0, 4)
            .as("mean_d"))
      // 200 bounded replicate rows: plain window is safe
      val ranked = perRep.withColumn("rk", row_number().over(
        Window.orderBy(col("mean_d"), col("rep"))).cast("long"))
      val lo = ranked.filter(col("rk") === 5)
        .select(col("mean_d").as("ci_lo_dollars"))
      val hi = ranked.filter(col("rk") === 196)
        .select(col("mean_d").as("ci_hi_dollars"))
      base.agg(count(lit(1)).as("n_orders"),
          round(sum(col("cents")).cast("double") / count(lit(1)) / 100.0,
            4).as("mean_dollars"))
        .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
    }),

    "q322_isotonic_pava" -> ((s, dir) => {
      // Isotonic regression (pool-adjacent-violators) of P(order has
      // >= 4 lines) on the order-value bin, via the exact minimax
      // identity g(k) = max_{i<=k} min_{j>=k} avg(i,j) over the 20-bin
      // table — the entire PAVA solve is bounded-grid arithmetic on
      // exact integer prefix sums; only the per-order line count ever
      // touches data-sized rows. The monotone fit is what a
      // score-calibration layer ships when raw bin rates zig-zag.
      val lines = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("nl"))
      val base = t(s, dir, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .select(least(lit(19L),
            expr("CAST(floor(o_totalprice / 25000) AS BIGINT)")).as("b"),
          when(col("nl") >= 4, 1L).otherwise(0L).as("y"))
      val bins = base.groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("yy"))
      // 20 bounded bin rows: plain windows are safe
      val w = Window.orderBy(col("b"))
      val cum = bins.withColumn("cn", sum(col("n")).over(w))
        .withColumn("cy", sum(col("yy")).over(w))
      val pairs = cum.select(col("b").as("i"),
          (col("cn") - col("n")).as("bn"), (col("cy") - col("yy")).as("by"))
        .join(cum.select(col("b").as("j"), col("cn"), col("cy")),
          col("i") <= col("j"))
        .select(col("i"), col("j"),
          ((col("cy") - col("by")).cast("double") /
            (col("cn") - col("bn"))).as("a"))
      val iso = bins.select(col("b").as("k"))
        .join(pairs, col("i") <= col("k") && col("k") <= col("j"))
        .groupBy(col("k"), col("i")).agg(min(col("a")).as("ma"))
        .groupBy(col("k")).agg(max(col("ma")).as("g"))
      bins.join(iso, col("b") === col("k"))
        .select(col("b").as("bin"), col("n"), col("yy").as("events"),
          round(col("yy").cast("double") / col("n"), 4).as("raw_rate"),
          round(col("g"), 4).as("iso_rate"))
        .orderBy(col("bin"))
    }),

    "q323_durbin_watson" -> ((s, dir) => {
      // Durbin-Watson serial-correlation test on the residuals of the
      // daily-revenue-vs-time OLS line: slope/intercept from exact
      // integer moments (dollars x day index), residual lag over the
      // calendar-bounded day table, DW = sum (e_t - e_{t-1})^2 /
      // sum e_t^2 with rho ~ 1 - DW/2. The autocorrelation gauge every
      // trend regression should report before anyone trusts its SEs.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "AS BIGINT)").as("rev"))
      // calendar-bounded day table: plain windows are safe
      val idx = daily.withColumn("tt",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
      val mom = idx.agg(count(lit(1)).as("n"), sum(col("tt")).as("st"),
        sum(col("tt") * col("tt")).as("stt"), sum(col("rev")).as("sy"),
        sum(col("tt") * col("rev")).as("sty"))
        .select(col("n"),
          ((col("n") * col("sty") - col("st") * col("sy")).cast("double") /
            (col("n") * col("stt") - col("st") * col("st"))).as("beta"),
          col("st"), col("sy"))
        .select(col("n"), col("beta"),
          ((col("sy") - col("beta") * col("st")) / col("n").cast("double"))
            .as("alpha"))
      val resid = idx.crossJoin(broadcast(mom))
        .select(col("tt"), col("n"),
          (col("rev").cast("double") - col("alpha") -
            col("beta") * col("tt")).as("e"),
          col("beta"))
      val lagged = resid.withColumn("ep",
        lag(col("e"), 1).over(Window.orderBy(col("tt"))))
      lagged.agg(first(col("n")).as("n_days"),
          round(first(col("beta")), 2).as("slope_per_day"),
          (sum(when(col("ep").isNotNull,
            (col("e") - col("ep")) * (col("e") - col("ep")))
            .otherwise(0.0)) / sum(col("e") * col("e"))).as("dw"))
        .select(col("n_days"), col("slope_per_day"),
          round(col("dw"), 4).as("dw"),
          round(lit(1.0) - col("dw") / 2, 4).as("rho_lag1"))
    }),

    "q324_cochran_armitage" -> ((s, dir) => {
      // Cochran-Armitage trend test: does the fraction of fully-shipped
      // ('F') orders TREND across the five ordered priority levels?
      // Chi-square-on-the-grid ignores the ordering; CA weights each
      // level by its rank score and is the standard dose-response
      // screen. T* = N*sum(w*y) - Y*sum(w*n) stays exact integer; the
      // single z division happens once in double with fixed operand
      // order on both engines.
      val cat = t(s, dir, "orders")
        .select(expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)")
            .as("k"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_k"), sum(col("y")).as("y_k"))
      val stat = cat.agg(sum(col("n_k")).as("n"), sum(col("y_k")).as("yy"),
          sum(col("k") * col("n_k")).as("swn"),
          sum(col("k") * col("y_k")).as("swy"),
          sum(col("k") * col("k") * col("n_k")).as("swwn"))
        .select(col("n").as("n_total"),
          (col("n") * col("swy") - col("yy") * col("swn")).as("tstar"),
          (col("yy").cast("double") * (col("n") - col("yy")) *
            (col("n").cast("double") * col("swwn") -
              col("swn").cast("double") * col("swn"))).as("vstar"))
        .select(col("n_total"),
          round(col("tstar").cast("double") *
            sqrt(col("n_total").cast("double") / col("vstar")), 4)
            .as("z_trend"),
          round(col("tstar").cast("double") * col("tstar") *
            col("n_total") / col("vstar"), 4).as("z2"))
      cat.crossJoin(broadcast(stat))
        .select(col("k").as("priority"), col("n_k").as("n"),
          round(col("y_k").cast("double") / col("n_k"), 4).as("rate_f"),
          col("n_total"), col("z_trend"), col("z2"))
        .orderBy(col("priority"))
    }),

    "q325_ratio_delta" -> ((s, dir) => {
      // Delta-method CI for a RATIO metric (dollars per order at the
      // customer grain) — the experimentation-platform staple: naive
      // per-order SEs are wrong because orders cluster within
      // customers; the delta method propagates customer-level
      // (x, y) = (spend, orders) covariance into Var(sum x / sum y).
      // All six moments are exact integers per segment; the variance
      // assembly happens once in double with fixed operand order.
      val perCust = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"), col("c_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("x"),
          count(lit(1)).as("y"))
      val mom = perCust.groupBy(col("sg"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      mom.select(col("sg"), col("n"),
          (col("sx").cast("double") / col("sy")).as("r"),
          ((col("n").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx")) /
            (col("n").cast("double") * (col("n") - 1))).as("vx"),
          ((col("n").cast("double") * col("syy") -
            col("sy").cast("double") * col("sy")) /
            (col("n").cast("double") * (col("n") - 1))).as("vy"),
          ((col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            (col("n").cast("double") * (col("n") - 1))).as("cxy"),
          (col("sy").cast("double") / col("n")).as("muy"))
        .select(col("sg"), col("n"), col("r"),
          sqrt((col("vx") - lit(2.0) * col("r") * col("cxy") +
            col("r") * col("r") * col("vy")) /
            (col("n") * col("muy") * col("muy"))).as("se"))
        .select(col("sg").as("segment"), col("n").as("n_cust"),
          round(col("r"), 4).as("dollars_per_order"),
          round(col("se"), 4).as("se"),
          round(col("r") - lit(1.96) * col("se"), 4).as("ci_lo"),
          round(col("r") + lit(1.96) * col("se"), 4).as("ci_hi"))
        .orderBy(col("segment"))
    }),

    "q326_pettitt" -> ((s, dir) => {
      // Pettitt change-point test on daily revenue: U_t = 2*sum(r_i,
      // i<=t) - t(n+1) with tied AVERAGE ranks kept exact via the
      // 2x-scaled integer trick (ar2 = 2*cumBefore + cnt + 1, summed
      // once per day), K = max|U_t|, p = 2exp(-6K^2/(n^3+n^2)). The
      // day table is calendar-bounded so every window is safe; the
      // only data-sized pass is the daily aggregate.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "AS BIGINT)").as("rev"))
      // calendar-bounded: plain windows safe below
      val byV = daily.groupBy(col("rev")).agg(count(lit(1)).as("cv"))
        .withColumn("bef",
          coalesce(sum(col("cv")).over(Window.orderBy(col("rev"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("rev"),
          (lit(2L) * col("bef") + col("cv") + lit(1L)).as("ar2"))
      val u = daily.join(byV, Seq("rev"))
        .withColumn("t", row_number().over(Window.orderBy(col("d")))
          .cast("long"))
        .withColumn("cum", sum(col("ar2")).over(Window.orderBy(col("d"))))
      val n = daily.agg(count(lit(1)).as("n"))
      val ut = u.crossJoin(broadcast(n))
        .filter(col("t") < col("n"))
        .select(col("d"), col("n"),
          (col("cum") - col("t") * (col("n") + 1)).as("u_t"))
      PrefixSum.globalRank(ut,
          Seq(abs(col("u_t")).desc, col("d")), "rk")
        .filter(col("rk") === 1)
        .select(col("n").as("n_days"),
          date_format(col("d"), "yyyy-MM-dd").as("change_date"),
          abs(col("u_t")).as("k_stat"),
          round(lit(2.0) * exp(lit(-6.0) * abs(col("u_t")).cast("double")
            * abs(col("u_t")) /
            (col("n").cast("double") * col("n") * col("n") +
              col("n").cast("double") * col("n"))), 6).as("p_value"))
    }),

    "q327_theil_decomposition" -> ((s, dir) => {
      // Theil-T inequality of customer spend, DECOMPOSED into between-
      // nation and within-nation parts — the additivity Gini lacks and
      // the reason Theil is the inequality-audit workhorse. Per-nation
      // T_g = sum(x ln x)/(X_g) - ln(mu_g) needs only three per-group
      // aggregates; the between term is bounded-grid arithmetic over
      // the 25 nation rows.
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("x"))
        .filter(col("x") > 0)
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nat"), col("x"))
      val perNat = spend.groupBy(col("nat"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("xg"),
          sum(col("x").cast("double") * log(col("x").cast("double")))
            .as("xlx"))
        .select(col("nat"), col("ng"), col("xg"),
          (col("xlx") / col("xg") -
            log(col("xg").cast("double") / col("ng"))).as("tg"))
      val tot = perNat.agg(sum(col("ng")).as("n"), sum(col("xg")).as("xx"))
      val parts = perNat.crossJoin(broadcast(tot))
        .select(col("nat"), col("ng"), col("xg"), col("tg"),
          (col("xg").cast("double") / col("xx")).as("share"),
          ((col("xg").cast("double") / col("xx")) *
            log((col("xg").cast("double") / col("xx")) /
              (col("ng").cast("double") / col("n")))).as("btw_term"),
          ((col("xg").cast("double") / col("xx")) * col("tg"))
            .as("win_term"))
      val stat = parts.agg(
          round(sum(col("btw_term")), 6).as("theil_between"),
          round(sum(col("win_term")), 6).as("theil_within_total"))
        .select(col("theil_between"), col("theil_within_total"),
          round(col("theil_between") + col("theil_within_total"), 6)
            .as("theil_total"))
      parts.crossJoin(broadcast(stat))
        .select(col("nat").as("nation"), col("ng").as("n_cust"),
          round(col("share"), 4).as("spend_share"),
          round(col("tg"), 6).as("theil_within"),
          col("theil_between"), col("theil_within_total"),
          col("theil_total"))
        .orderBy(col("nation"))
    }),

    "q328_mcnemar" -> ((s, dir) => {
      // McNemar's paired test: did the population of ACTIVE customers
      // change between 1995 and 1996? The unit is the customer (its
      // two years are the matched pair), so only the DISCORDANT cells
      // b (active 95, quiet 96) and c (quiet 95, active 96) carry
      // information. Continuity-corrected chi2 = (|b-c|-1)^2/(b+c);
      // p via the A&S 7.1.26 erf polynomial at x = sqrt(stat/2)
      // (chi2 df=1 survival = 1 - erf(sqrt(x/2))). One grouped pass
      // over orders, then scalar arithmetic.
      val flags = t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(when(year(col("o_orderdate")) === 1995, 1L)
            .otherwise(0L)).as("a95"),
            sum(when(year(col("o_orderdate")) === 1996, 1L)
              .otherwise(0L)).as("a96")),
          col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("a95"), lit(0L)).as("a95"),
          coalesce(col("a96"), lit(0L)).as("a96"))
      val cells = flags.agg(count(lit(1)).as("n_cust"),
        sum(when(col("a95") > 0 && col("a96") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("a95") === 0 && col("a96") > 0, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("a95") > 0 && col("a96") > 0, 1L).otherwise(0L))
          .as("both_active"))
      val withStat = cells.withColumn("stat",
        (abs(col("b") - col("c")) - 1).cast("double") *
          (abs(col("b") - col("c")) - 1) / (col("b") + col("c")))
      val x = sqrt(col("stat") / 2)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      withStat.select(col("n_cust"), col("b").as("lost_95"),
        col("c").as("gained_96"), col("both_active"),
        round(col("stat"), 4).as("chi2_cc"),
        round((lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
          exp(-x * x), 6).as("p_value"))
    }),

    "q329_cramer_von_mises" -> ((s, dir) => {
      // Two-sample Cramer-von-Mises on the ASIA-vs-EUROPE acctbal
      // fixture (the L2 companion to q302's L1 Wasserstein and q168's
      // sup-norm KS): T = nm/(n+m)^2 * sum over all N points of
      // (F_n - G_m)^2, computed over the value-grouped table with the
      // same exact-integer prefix-sum CDFs — (CA*m - CB*n)^2 squares
      // once in double, weighted by the value's multiplicity.
      val geo = asiaEuropeBalances(s, dir)
      val byVal = geo.groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
        .withColumn("__g", lit(1))
      // both cumulative counts in ONE two-phase pass (chaining the single
      // version re-ranges and re-materializes the grid per column)
      val cum = PrefixSum.groupedRunningSums(byVal, "__g", "v",
        Seq((col("ca"), "cca"), (col("cb"), "ccb")))
      // totals from the pass's materialized output, not a re-executed grid
      val tot = cum.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      cum.crossJoin(broadcast(tot))
        .agg(first(col("na")).as("n_asia"), first(col("nb")).as("n_europe"),
          sum((col("cca").cast("double") * col("nb") -
            col("ccb").cast("double") * col("na")) *
            (col("cca").cast("double") * col("nb") -
              col("ccb").cast("double") * col("na")) *
            (col("ca") + col("cb"))).as("u"))
        .select(col("n_asia"), col("n_europe"),
          round(col("u") /
            (col("n_asia").cast("double") * col("n_europe")) /
            ((col("n_asia") + col("n_europe")).cast("double") *
              (col("n_asia") + col("n_europe"))), 6).as("t_stat"))
    }),

    "q330_haar_variance" -> ((s, dir) => {
      // Haar wavelet variance of daily revenue — the multi-resolution
      // energy split (which time scales carry the variation?) behind
      // scalogram anomaly detectors. For level j the detail energy is
      // sum over complete 2^j-day blocks of (S_left - S_right)^2 / 2^j
      // with S exact integer half-block sums; the day axis is
      // calendar-bounded so all eight levels are unions of tiny
      // aggregates over one shared daily table.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "AS BIGINT)").as("rev"))
        // calendar-bounded: plain window safe
        .withColumn("t",
          (row_number().over(Window.orderBy(col("d"))) - 1).cast("long"))
        .materialize
      val nDays = daily.agg(count(lit(1)).as("nd"))
      val levels = (1 to 8).map { j =>
        val span = 1L << j
        val half = 1L << (j - 1)
        daily.crossJoin(broadcast(nDays))
          .filter(col("t") < expr(s"(nd div $span) * $span"))
          .groupBy(expr(s"t div $span").as("blk"))
          .agg(sum(when(pmod(col("t"), lit(span)) < half, col("rev"))
            .otherwise(0L)).as("sl"),
            sum(when(pmod(col("t"), lit(span)) >= half, col("rev"))
              .otherwise(0L)).as("sr"))
          .agg(count(lit(1)).as("n_blocks"),
            sum((col("sl") - col("sr")).cast("double") *
              (col("sl") - col("sr")) / span).as("energy"))
          .select(lit(j.toLong).as("level"), col("n_blocks"),
            col("energy"))
      }.reduce(_.unionAll(_))
      val totE = levels.agg(sum(col("energy")).as("te"))
      levels.crossJoin(broadcast(totE))
        .select(col("level"), col("n_blocks"),
          round(col("energy") / 1.0e6, 2).as("energy_musd2"),
          round(col("energy") / col("te"), 4).as("energy_share"))
        .orderBy(col("level"))
    }),

    "q331_caliper_matching" -> ((s, dir) => {
      // Nearest-neighbor caliper matching (with replacement) on a
      // balancing score — the observational-causal workhorse: every
      // BUILDING-segment customer is matched to its nearest
      // other-segment control within a $10 acctbal caliper, then ATT =
      // mean(treated spend - matched control spend). The 1-D analogue
      // of q320's grid join: bucket = score div caliper, the TREATED
      // side (the small one) expands to 3 neighbor buckets, candidates
      // equi-join on the bucket, argmin by exact integer
      // (|score diff|, control key) via one min(struct) aggregate — no
      // sort, no data-sized window, no cross join.
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("sp"))
      val cust = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("ck"),
          (col("c_mktsegment") === "BUILDING").as("treated"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"),
          coalesce(col("sp"), lit(0L)).as("outcome"))
      val controls = cust.filter(!col("treated"))
        .select(expr("v div 1000").as("bk"), col("v").as("cv"),
          col("ck").as("cck"), col("outcome").as("cout"))
      val treated = cust.filter(col("treated"))
      val expanded = treated
        .crossJoin(broadcast(s.range(-1, 2).select(col("id").as("off"))))
        .select(col("ck"), col("v"), col("outcome"),
          (expr("v div 1000") + col("off")).as("bk"))
      val best = expanded.join(controls, Seq("bk"))
        .filter(abs(col("v") - col("cv")) <= 1000)
        .groupBy(col("ck"), col("v"), col("outcome"))
        .agg(min(struct(abs(col("v") - col("cv")).as("ad"),
          col("cck"), col("cout"))).as("m"))
        .select(col("ck"), col("outcome"),
          col("m.ad").as("ad"), col("m.cout").as("cout"))
      val nT = treated.agg(count(lit(1)).as("n_treated"))
      best.agg(count(lit(1)).as("n_matched"),
          round(avg((col("outcome") - col("cout")).cast("double")), 2)
            .as("att_dollars"),
          round(avg(col("ad").cast("double")) / 100, 4)
            .as("mean_score_gap_dollars"))
        .crossJoin(broadcast(nT))
        .select(col("n_treated"), col("n_matched"),
          round(col("n_matched").cast("double") / col("n_treated"), 4)
            .as("match_rate"),
          col("att_dollars"), col("mean_score_gap_dollars"))
    }),

    "q332_granger" -> ((s, dir) => {
      // 1-lag Granger causality between weekly EUROPE and ASIA revenue,
      // both directions: F-test of adding the other region's lag to the
      // own-lag AR(1). Weeks are exact integer day-diff buckets (no
      // engine-specific week-of-year), the regressor matrix lives on
      // the calendar-bounded week table, and the two-regressor solve is
      // the closed-form Cramer arithmetic over exact centered moments
      // (kilodollar units keep every long in range); only the final
      // determinant products run in double.
      val weekly = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).cast("long").as("wd"),
          col("r_name"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "div 1000 AS BIGINT)").as("kd"))
        .groupBy(expr("wd div 7").as("w"))
        .agg(sum(when(col("r_name") === "ASIA", col("kd"))
          .otherwise(0L)).as("asia"),
          sum(when(col("r_name") === "EUROPE", col("kd"))
            .otherwise(0L)).as("europe"))
      // calendar-bounded week table: plain window safe
      val lagged = weekly
        .withColumn("asia_l", lag(col("asia"), 1)
          .over(Window.orderBy(col("w"))))
        .withColumn("europe_l", lag(col("europe"), 1)
          .over(Window.orderBy(col("w"))))
        .filter(col("asia_l").isNotNull)
      def granger(yc: String, ylc: String, xlc: String, dirn: String) = {
        val m = lagged.agg(count(lit(1)).as("n"),
          sum(col(yc)).as("sy"), sum(col(ylc)).as("su"),
          sum(col(xlc)).as("sv"),
          sum(col(ylc) * col(ylc)).as("suu"),
          sum(col(xlc) * col(xlc)).as("svv"),
          sum(col(ylc) * col(xlc)).as("suv"),
          sum(col(ylc) * col(yc)).as("suy"),
          sum(col(xlc) * col(yc)).as("svy"),
          sum(col(yc) * col(yc)).as("syy"))
        m.select(col("n"),
            (col("n") * col("suu") - col("su") * col("su")).as("cuu"),
            (col("n") * col("svv") - col("sv") * col("sv")).as("cvv"),
            (col("n") * col("suv") - col("su") * col("sv")).as("cuv"),
            (col("n") * col("suy") - col("su") * col("sy")).as("cuy"),
            (col("n") * col("svy") - col("sv") * col("sy")).as("cvy"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("cyy"))
          .select(col("n"),
            ((col("cvv").cast("double") * col("cuy") -
              col("cuv").cast("double") * col("cvy")) /
              (col("cuu").cast("double") * col("cvv") -
                col("cuv").cast("double") * col("cuv"))).as("b"),
            ((col("cuu").cast("double") * col("cvy") -
              col("cuv").cast("double") * col("cuy")) /
              (col("cuu").cast("double") * col("cvv") -
                col("cuv").cast("double") * col("cuv"))).as("c"),
            col("cuy"), col("cvy"), col("cyy"), col("cuu"))
          .select(col("n"),
            lit(dirn).as("direction"), col("b"), col("c"),
            ((col("cyy") - col("b") * col("cuy") - col("c") * col("cvy"))
              / col("n").cast("double")).as("rss_u"),
            ((col("cyy") - col("cuy").cast("double") * col("cuy") /
              col("cuu")) / col("n").cast("double")).as("rss_r"))
          .select(col("direction"), col("n").as("n_weeks"),
            round(col("b"), 4).as("own_lag_coef"),
            round(col("c"), 4).as("cross_lag_coef"),
            round((col("rss_r") - col("rss_u")) /
              (col("rss_u") / (col("n") - 3)), 4).as("f_stat"))
      }
      granger("asia", "asia_l", "europe_l", "europe_to_asia")
        .unionAll(
          granger("europe", "europe_l", "asia_l", "asia_to_europe"))
        .orderBy(col("direction"))
    }),

    "q333_fellegi_sunter" -> ((s, dir) => {
      // Fellegi-Sunter probabilistic record linkage: candidate pairs
      // (key-blocked, bounded fan-out) are reduced to an agreement
      // PATTERN over three fields (nation, segment, balance within
      // $10), each pattern scored by the sum of log2(m/u) /
      // log2((1-m)/(1-u)) field weights. The u-probabilities are NOT
      // guessed: nation/segment come exactly from the marginal counts,
      // and the balance-band u from a 1-D bucket join over the
      // value-grouped table (the q320 pattern, so no O(N^2) pass).
      // Output is the 8-row pattern table every linkage engine ships.
      val cust = t(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
      val n = cust.agg(count(lit(1)).as("n"))
      val uNat = cust.groupBy(col("nat")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1)).as("agree"))
        .crossJoin(broadcast(n))
        .select((col("agree").cast("double") /
          (col("n").cast("double") * (col("n") - 1))).as("u_nat"))
      val uSeg = cust.groupBy(col("seg")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1)).as("agree"))
        .crossJoin(broadcast(n))
        .select((col("agree").cast("double") /
          (col("n").cast("double") * (col("n") - 1))).as("u_seg"))
      val vals = cust.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val uBal = vals
        .crossJoin(broadcast(s.range(-1, 2).select(col("id").as("off"))))
        .select(col("v"), col("c"), (expr("v div 1000") + col("off"))
          .as("bk"))
        .join(vals.select(expr("v div 1000").as("bk"), col("v").as("w"),
          col("c").as("cw")), Seq("bk"))
        .filter(abs(col("v") - col("w")) <= 1000)
        .agg(sum(col("c") * col("cw")).as("inband"))
        .crossJoin(broadcast(n))
        .select(((col("inband") - col("n")).cast("double") /
          (col("n").cast("double") * (col("n") - 1))).as("u_bal"))
      val us = uNat.crossJoin(uSeg).crossJoin(uBal)
      val pairs = cust.withColumn("bk", expr("ck div 10"))
        .as("a")
        .join(cust.withColumn("bk", expr("ck div 10")).as("b"),
          col("a.bk") === col("b.bk") &&
            col("a.ck") < col("b.ck"))
        .select((col("a.nat") === col("b.nat")).as("na"),
          (col("a.seg") === col("b.seg")).as("sa"),
          (abs(col("a.v") - col("b.v")) <= 1000).as("ba"))
      val patterns = pairs.groupBy(col("na"), col("sa"), col("ba"))
        .agg(count(lit(1)).as("n_pairs"))
      def fw(agree: Column, m: Double, u: Column) =
        when(agree, log(lit(m) / u)).otherwise(
          log((lit(1.0) - m) / (lit(1.0) - u)))
      patterns.crossJoin(broadcast(us))
        .select(col("na").as("nation_agree"),
          col("sa").as("segment_agree"), col("ba").as("balance_agree"),
          col("n_pairs"),
          round(col("u_nat"), 6).as("u_nation"),
          round(col("u_bal"), 6).as("u_balance"),
          round(fw(col("na"), 0.95, col("u_nat")) +
            fw(col("sa"), 0.90, col("u_seg")) +
            fw(col("ba"), 0.85, col("u_bal")), 4).as("weight"))
        .withColumn("decision",
          when(col("weight") >= 4.0, "match")
            .when(col("weight") >= -2.0, "possible")
            .otherwise("non_match"))
        .orderBy(col("nation_agree"), col("segment_agree"),
          col("balance_agree"))
    }),

    "q334_dtw" -> ((s, dir) => {
      // Dynamic time warping between the 1995 and 1996 monthly revenue
      // curves — the shape-aware series distance. The 12x12 DP is
      // folded COLUMN BY COLUMN via the identity D(i,j) = CS_j(i) +
      // min_{k<=i}(E(k) - CS_j(k-1)) with E(k) = min(D(k,j-1),
      // D(k-1,j-1)): each of the 11 unrolled steps is two windows over
      // a 12-row frame, so the whole warp is bounded-grid arithmetic
      // in exact integer kilodollars; only the monthly aggregate
      // touches data-sized rows.
      def monthly(yr: Int, idx: String, v: String) =
        t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === yr)
          .groupBy(month(col("o_orderdate")).cast("long").as(idx))
          .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
            "div 1000 AS BIGINT)").as(v))
      val cost = monthly(1995, "i", "va")
        .crossJoin(monthly(1996, "j", "vb"))
        .select(col("i"), col("j"),
          abs(col("va") - col("vb")).as("c"))
        .materialize
      // 12-row frames: plain windows safe throughout
      val w = Window.orderBy(col("i"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      var d = cost.filter(col("j") === 1)
        .withColumn("d", sum(col("c")).over(wRun))
        .select(col("i"), col("d"))
      for (j <- 2 to 12) {
        val e = d.withColumn("dl", lag(col("d"), 1).over(w))
          .select(col("i"),
            least(col("d"), coalesce(col("dl"), col("d"))).as("e"))
        d = cost.filter(col("j") === j)
          .withColumn("cs", sum(col("c")).over(wRun))
          .join(e, Seq("i"))
          .withColumn("rm",
            min(col("e") - col("cs") + col("c")).over(wRun))
          .select(col("i"), (col("cs") + col("rm")).as("d"))
      }
      d.filter(col("i") === 12)
        .select(lit(12L).as("n_months"), col("d").as("dtw_kusd"))
    }),

    "q335_binary_segmentation" -> ((s, dir) => {
      // Binary segmentation, two rounds: the first split minimizes
      // total SSE of daily revenue (exact integer prefix sums S1/S2 in
      // kilodollars; only the per-candidate division runs in double,
      // rounded before the argmin), the second split re-scans BOTH
      // sides with the first boundary fixed. The classic multiple-
      // change-point scheme on top of one shared cumulative table —
      // day axis calendar-bounded, data touched once.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "div 1000 AS BIGINT)").as("y"))
      // calendar-bounded: plain windows safe
      val w = Window.orderBy(col("d"))
      val cum = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("s1", sum(col("y")).over(w))
        .withColumn("s2", sum(col("y") * col("y")).over(w))
        .materialize
      val tot = cum.agg(max(col("t")).as("n"), max(col("s1")).as("g1"),
        max(col("s2")).as("g2"))
      def seg(s2b: Column, s2a: Column, s1b: Column, s1a: Column,
              len: Column) =
        (s2b - s2a).cast("double") -
          (s1b - s1a).cast("double") * (s1b - s1a) / len
      val c1 = cum.crossJoin(broadcast(tot)).filter(col("t") < col("n"))
        .select(col("d"), col("t"), col("n"), col("g1"), col("g2"),
          round(seg(col("s2"), lit(0L), col("s1"), lit(0L), col("t")) +
            seg(col("g2"), col("s2"), col("g1"), col("s1"),
              col("n") - col("t")), 4).as("sse"))
      val best1 = PrefixSum.globalRank(c1, Seq(col("sse"), col("t")), "rk")
        .filter(col("rk") === 1)
        .select(col("t").as("t1"), col("d").as("d1"),
          col("sse").as("sse1"))
      val t1row = cum.join(broadcast(best1), col("t") === col("t1"))
        .select(col("t1"), col("s1").as("p1"), col("s2").as("p2"))
      val c2 = cum.crossJoin(broadcast(tot))
        .crossJoin(broadcast(t1row))
        .filter(col("t") < col("n") && col("t") =!= col("t1"))
        .select(col("d"), col("t"), col("t1"),
          round(when(col("t") < col("t1"),
            seg(col("s2"), lit(0L), col("s1"), lit(0L), col("t")) +
              seg(col("p2"), col("s2"), col("p1"), col("s1"),
                col("t1") - col("t")) +
              seg(col("g2"), col("p2"), col("g1"), col("p1"),
                col("n") - col("t1")))
          .otherwise(
            seg(col("p2"), lit(0L), col("p1"), lit(0L), col("t1")) +
              seg(col("s2"), col("p2"), col("s1"), col("p1"),
                col("t") - col("t1")) +
              seg(col("g2"), col("s2"), col("g1"), col("s1"),
                col("n") - col("t"))), 4).as("sse"))
      val best2 = PrefixSum.globalRank(c2, Seq(col("sse"), col("t")), "rk")
        .filter(col("rk") === 1)
        .select(col("t").as("t2"), col("d").as("d2"),
          col("sse").as("sse2"))
      val sse0 = tot.select(col("n"),
        round(seg(col("g2"), lit(0L), col("g1"), lit(0L), col("n")), 4)
          .as("sse0"))
      sse0.crossJoin(broadcast(best1)).crossJoin(broadcast(best2))
        .select(col("n").as("n_days"),
          date_format(least(col("d1"), col("d2")), "yyyy-MM-dd")
            .as("change_1"),
          date_format(greatest(col("d1"), col("d2")), "yyyy-MM-dd")
            .as("change_2"),
          col("sse0"), col("sse1"), col("sse2"),
          round(lit(1.0) - col("sse2") / col("sse0"), 6)
            .as("var_explained"))
    }),

    "q336_anova_f" -> ((s, dir) => {
      // One-way ANOVA F across the five market segments on acctbal —
      // the parametric companion to q319's Kruskal-Wallis. SSB/SSW
      // assemble from per-group exact integer moments (sum, sumsq,
      // count) in one partial-aggregating pass; eta^2 gives the effect
      // size and the df-4 chi-square survival of 4F the large-sample
      // p. Everything after the group aggregate is broadcast
      // arithmetic.
      val g = segmentBalanceMoments(s, dir)
      val stat = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg1")).as("s1"), sum(col("sg2")).as("s2"),
          sum(col("sg1").cast("double") * col("sg1") / col("ng"))
            .as("sb"))
        .select(col("k"), col("n"),
          (col("sb") - col("s1").cast("double") * col("s1") / col("n"))
            .as("ssb"),
          (col("s2").cast("double") - col("sb")).as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("n") - col("k")))).as("f"))
      val x = col("f") * 4
      stat.select(col("n").as("n_cust"), col("k").as("k_groups"),
        round(col("f"), 4).as("f_stat"),
        round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"),
        round(exp(-x / 2) * (lit(1.0) + x / 2), 6).as("p_approx"))
    }),

    "q337_brown_forsythe" -> ((s, dir) => {
      // Brown-Forsythe variance-homogeneity test (Levene with MEDIAN
      // centers — robust to the heavy tails that wreck the plain
      // F-ratio): per-segment medians picked at the exact integer rank
      // (ng+1) div 2 via the grouped two-phase prefix sum, deviations
      // |v - med| stay exact integers, then the one-way ANOVA assembly
      // of q336 runs on the deviations. The gatekeeper to trusting any
      // pooled-variance test.
      val base = t(s, dir, "customer")
        .select(col("c_mktsegment").as("sg"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"),
          col("c_custkey"))
        .select(col("sg"), col("v"),
          (col("v") * lit(16777216L) + col("c_custkey")).as("ok"))
      val ranked = PrefixSum.groupedRunningSum(
        base.withColumn("one", lit(1L)), "sg", "ok", col("one"), "rk")
      val ngs = base.groupBy(col("sg")).agg(count(lit(1)).as("ng"))
      val med = ranked.join(broadcast(ngs), Seq("sg"))
        .filter(col("rk") === expr("(ng + 1) div 2"))
        .select(col("sg"), col("v").as("med"))
      val g = base.join(broadcast(med), Seq("sg"))
        .select(col("sg"), abs(col("v") - col("med")).as("z"))
        .groupBy(col("sg"))
        .agg(count(lit(1)).as("ng"), sum(col("z")).as("sg1"),
          sum(col("z") * col("z")).as("sg2"))
      val stat = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg1")).as("s1"), sum(col("sg2")).as("s2"),
          sum(col("sg1").cast("double") * col("sg1") / col("ng"))
            .as("sb"))
        .select(col("k"), col("n"),
          (col("sb") - col("s1").cast("double") * col("s1") / col("n"))
            .as("ssb"),
          (col("s2").cast("double") - col("sb")).as("ssw"))
        .select(col("k"), col("n"),
          ((col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("n") - col("k")))).as("f"))
      val x = col("f") * 4
      stat.select(col("n").as("n_cust"), col("k").as("k_groups"),
        round(col("f"), 4).as("w_stat"),
        round(exp(-x / 2) * (lit(1.0) + x / 2), 6).as("p_approx"))
    }),

    "q338_tukey_hsd" -> ((s, dir) => {
      // Tukey HSD post-hoc: after q336's ANOVA says "segments differ",
      // WHICH pairs differ? The studentized-range q for all 10 segment
      // pairs from one set of per-group exact moments plus the pooled
      // MSE — the bounded 5x5 pair grid is broadcast arithmetic, and
      // the df=inf k=5 critical value 3.86 flags significance.
      val g = segmentBalanceMoments(s, dir)
      val mse = g.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
          sum(col("sg2")).as("s2"),
          sum(col("sg1").cast("double") * col("sg1") / col("ng"))
            .as("sb"))
        .select(((col("s2").cast("double") - col("sb")) /
          (col("n") - col("k")).cast("double")).as("mse"))
      g.select(col("sg").as("seg_a"), col("ng").as("na"),
          (col("sg1").cast("double") / col("ng")).as("ma"))
        .join(g.select(col("sg").as("seg_b"), col("ng").as("nb"),
          (col("sg1").cast("double") / col("ng")).as("mb")),
          col("seg_a") < col("seg_b"))
        .crossJoin(broadcast(mse))
        .select(col("seg_a"), col("seg_b"),
          round((col("ma") - col("mb")) / 100, 2).as("mean_diff_dollars"),
          round((col("ma") - col("mb")) /
            sqrt(col("mse") / 2 *
              (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 4)
            .as("q_stat"))
        .withColumn("significant", abs(col("q_stat")) > 3.86)
        .orderBy(col("seg_a"), col("seg_b"))
    }),

    "q339_bland_altman" -> ((s, dir) => {
      // Bland-Altman agreement between the stated order total and the
      // line-rebuilt total (q318's reconciliation fixture, asked the
      // method-comparison way): bias = mean difference, 95% limits of
      // agreement = bias +/- 1.96 sd, and the share of orders outside
      // their own limits. Moments are exact integer cents in one
      // grouped pass; the limits comparison re-uses the same frame.
      val diffs = orderTotalDiffs(s, dir)
      // diff^2 can pass 2^63 at scale: accumulate the square sum as
      // DECIMAL(38,0) (exact, overflow-free) and go double only once
      val mom = diffs.agg(count(lit(1)).as("n"), sum(col("diff")).as("s1"),
          sum(col("diff").cast("decimal(19,0)") *
            col("diff").cast("decimal(19,0)")).as("s2"))
        .select(col("n"),
          (col("s1").cast("double") / col("n")).as("bias"),
          sqrt((col("n").cast("double") * col("s2").cast("double") -
            col("s1").cast("double") * col("s1")) /
            (col("n").cast("double") * (col("n") - 1))).as("sd"))
      diffs.crossJoin(broadcast(mom))
        .agg(first(col("n")).as("n_orders"),
          round(first(col("bias")), 4).as("bias_cents"),
          round(first(col("bias")) - lit(1.96) * first(col("sd")), 4)
            .as("loa_lo_cents"),
          round(first(col("bias")) + lit(1.96) * first(col("sd")), 4)
            .as("loa_hi_cents"),
          round(avg(when(col("diff") < col("bias") - lit(1.96) * col("sd"),
            1.0).when(col("diff") > col("bias") + lit(1.96) * col("sd"),
            1.0).otherwise(0.0)), 6).as("frac_outside"))
    }),

    "q340_markov_attribution" -> ((s, dir) => {
      // Markov removal-effect attribution — the data-driven multi-touch
      // model (vs q203's positional rules): user journeys up to first
      // purchase become a 6-state transition matrix, conversion
      // probability from 'start' is solved by a 20-step fixed-point
      // fold, and each channel's credit is how much conversion DROPS
      // when its state is redirected to 'null'. All five scenarios
      // (base + 4 removals) ride ONE bounded wide frame (5 rows x 25
      // prob columns) whose iteration is one Recurrence of
      // fixed-operand-order arithmetic per row — deterministic on both
      // engines; only the journey extraction touches data-sized rows
      // (per-user windows, bounded by activity).
      val chans = Seq("click", "view", "signup", "error")
      val ev = events(s, dir).select(col("user_id"),
        col("event_type").as("et"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      val minp = ev.filter(col("et") === "purchase")
        .groupBy(col("user_id")).agg(min(col("us")).as("mp"))
      val touches = ev.join(minp, Seq("user_id"), "left")
        .filter(col("et") =!= "purchase" &&
          (col("mp").isNull || col("us") < col("mp")))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val seq0 = touches
        .withColumn("rn", row_number().over(wU).cast("long"))
        .withColumn("nt",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .withColumn("nx", lead(col("et"), 1).over(wU))
        .withColumn("conv", col("mp").isNotNull)
      val trans = seq0.filter(col("rn") === 1)
          .select(lit("start").as("f"), col("et").as("tt"))
        .unionAll(seq0.filter(col("nx").isNotNull)
          .select(col("et").as("f"), col("nx").as("tt")))
        .unionAll(seq0.filter(col("rn") === col("nt"))
          .select(col("et").as("f"),
            when(col("conv"), "conv").otherwise("null").as("tt")))
        .unionAll(minp.join(touches.select(col("user_id")).distinct(),
            Seq("user_id"), "left_anti")
          .select(lit("start").as("f"), lit("conv").as("tt")))
        .groupBy(col("f"), col("tt")).agg(count(lit(1)).as("c"))
      val probs = trans
        .join(trans.groupBy(col("f")).agg(sum(col("c")).as("tot")),
          Seq("f"))
        .select(col("f"), col("tt"),
          (col("c").cast("double") / col("tot")).as("p"))
      val scens = ("base" +: chans)
        .map(c => s.range(1).select(lit(c).as("scen")))
        .reduce(_.unionAll(_))
      val redirected = scens.crossJoin(probs)
        .select(col("scen"), col("f"),
          when(col("tt") === col("scen"), "null").otherwise(col("tt"))
            .as("tt"), col("p"))
      val froms = "start" +: chans
      val tos = chans :+ "conv"
      val aggs = froms.flatMap(f => tos.map(tt =>
        sum(when(col("f") === f && col("tt") === tt, col("p"))
          .otherwise(0.0)).as(s"t_${f}_$tt")))
      val ps = Recurrence.iterate(chans.map(c => s"p_$c" -> lit(0.0)), 20) {
        st => chans.map { c =>
          chans.foldLeft(col(s"t_${c}_conv"))((acc, d) =>
            acc + col(s"t_${c}_$d") * st(s"p_$d"))
        }
      }
      val fin = redirected.groupBy(col("scen"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("scen") +: tos.map(tt => col(s"t_start_$tt")) :+
          ps.as("ps"): _*)
        .select(col("scen"),
          chans.foldLeft(col("t_start_conv"))((acc, d) =>
            acc + col(s"t_start_$d") * col(s"ps.p_$d")).as("p_start"))
      val wideF = fin.groupBy()
        .agg(sum(when(col("scen") === "base", col("p_start"))
          .otherwise(0.0)).as("p_base"),
          chans.map(c => sum(when(col("scen") === c, col("p_start"))
            .otherwise(0.0)).as(s"p_rm_$c")): _*)
      val withRe = chans.foldLeft(wideF)((df, c) =>
        df.withColumn(s"re_$c",
          (col("p_base") - col(s"p_rm_$c")) / col("p_base")))
      val nJ = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_journeys"))
      withRe
        .withColumn("re_sum", chans.map(c => col(s"re_$c"))
          .reduce(_ + _))
        .crossJoin(broadcast(nJ))
        .select(Seq(col("n_journeys"),
          round(col("p_base"), 6).as("base_cvr")) ++
          chans.map(c => round(col(s"re_$c"), 6).as(s"re_$c")) ++
          chans.map(c => round(col(s"re_$c") / col("re_sum"), 6)
            .as(s"share_$c")): _*)
    }),

    "q341_qini_uplift" -> ((s, dir) => {
      // Qini curve + coefficient — the uplift-model report card:
      // customers ranked by the targeting score (acctbal, descending
      // exact global rank), split into deciles, with the incremental
      // conversions cyt - cyc*cnt/cnc accumulated down the ranking
      // against the random-targeting diagonal. Counts stay exact
      // integers through the cumulative table; the trapezoid area runs
      // over 10 bounded rows in rank order on both engines.
      val y96 = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey")).distinct()
      val base = t(s, dir, "customer")
        .join(y96, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("ck"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"),
          (col("c_custkey") % 2 === 0).as("tr"),
          when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("y"))
      val n = base.agg(count(lit(1)).as("n"))
      val dec = PrefixSum.globalRank(base,
          Seq(col("v").desc, col("ck")), "rk")
        .crossJoin(broadcast(n))
        .select(expr("CAST(1 + ((rk - 1) * 10) div n AS BIGINT)")
          .as("decile"), col("tr"), col("y"), col("n"))
      val per = dec.groupBy(col("decile"))
        .agg(first(col("n")).as("n"),
          sum(when(col("tr"), 1L).otherwise(0L)).as("nt"),
          sum(when(!col("tr"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("tr"), col("y")).otherwise(0L)).as("yt"),
          sum(when(!col("tr"), col("y")).otherwise(0L)).as("yc"))
      // 10 bounded decile rows: plain windows safe
      val w = Window.orderBy(col("decile"))
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val cum = per
        .withColumn("cnt", sum(col("nt")).over(w))
        .withColumn("cnc", sum(col("nc")).over(w))
        .withColumn("cyt", sum(col("yt")).over(w))
        .withColumn("cyc", sum(col("yc")).over(w))
        .withColumn("qini", col("cyt").cast("double") -
          col("cyc").cast("double") * col("cnt") / col("cnc"))
        .withColumn("x", (col("cnt") + col("cnc")).cast("double") /
          col("n"))
      val curve = cum
        .withColumn("ql", coalesce(lag(col("qini"), 1).over(w), lit(0.0)))
        .withColumn("xl", coalesce(lag(col("x"), 1).over(w), lit(0.0)))
        .withColumn("contrib",
          (col("qini") + col("ql")) / 2 * (col("x") - col("xl")))
        .withColumn("area", sum(col("contrib")).over(wAll))
        .withColumn("u_total",
          sum(when(col("decile") === 10, col("qini")).otherwise(0.0))
            .over(wAll))
      curve.select(col("decile"), col("nt").as("n_t"),
          col("nc").as("n_c"), col("yt").as("y_t"), col("yc").as("y_c"),
          round(col("qini"), 4).as("qini_k"),
          round(col("area"), 4).as("qini_area"),
          round(col("area") - col("u_total") / 2, 4).as("qini_coef"))
        .orderBy(col("decile"))
    }),

    "q342_friedman" -> ((s, dir) => {
      // Friedman test on the complete nation x segment block design
      // (cell value = total acctbal cents, absent cells exactly 0):
      // within-block tied AVERAGE ranks via pair counting over the
      // bounded 5-cell blocks (ar2 = 2*less + eq + 1 stays integer),
      // chi2_F = 12/(bk(k+1)) * sum R_j^2 - 3b(k+1) on the halved rank
      // sums, df=4 survival in closed form. The repeated-measures
      // answer to q319's independent-samples Kruskal-Wallis.
      val segs = t(s, dir, "customer").select(col("c_mktsegment"))
        .distinct().select(col("c_mktsegment").as("seg"))
      val grid = t(s, dir, "nation")
        .select(col("n_nationkey").as("nk")).crossJoin(broadcast(segs))
      val sums = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(sum(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
          .as("sv"))
      val cells = grid.join(sums, Seq("nk", "seg"), "left")
        .select(col("nk"), col("seg"), coalesce(col("sv"), lit(0L))
          .as("v"))
      val ranked = cells.as("a")
        .join(cells.as("b"), col("a.nk") === col("b.nk"))
        .groupBy(col("a.nk").as("nk"), col("a.seg").as("seg"))
        .agg((lit(2L) * sum(when(col("b.v") < col("a.v"), 1L)
          .otherwise(0L)) +
          sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L)) + 1L)
          .as("ar2"))
      val perSeg = ranked.groupBy(col("seg"))
        .agg(sum(col("ar2")).as("r2"))
      val bk = cells.agg(
        countDistinct(col("nk")).as("b"),
        countDistinct(col("seg")).as("k"))
      val stat = perSeg.agg(sum(col("r2") * col("r2")).as("sr2"))
        .crossJoin(broadcast(bk))
        .select(col("b"), col("k"),
          (lit(12.0) / (col("b").cast("double") * col("k") *
            (col("k") + 1)) * (col("sr2").cast("double") / 4) -
            lit(3.0) * col("b") * (col("k") + 1)).as("chi2"))
        .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
          round(col("chi2"), 4).as("chi2_f"),
          round(exp(-col("chi2") / 2) * (lit(1.0) + col("chi2") / 2), 6)
            .as("p_value"))
      perSeg.crossJoin(broadcast(stat))
        .select(col("seg").as("segment"),
          round(col("r2").cast("double") /
            (lit(2.0) * col("n_blocks")), 2).as("mean_rank"),
          col("n_blocks"), col("k_treatments"), col("chi2_f"),
          col("p_value"))
        .orderBy(col("segment"))
    }),

    "q343_smd_balance" -> ((s, dir) => {
      // Covariate-balance audit (the "love plot" table) for q331's
      // caliper matching: standardized mean differences of acctbal,
      // order count and spend between BUILDING-segment customers and
      // controls, BEFORE matching (raw populations) and AFTER (matched
      // pairs, with replacement). All moments are exact integers; the
      // matching core is the same bucket join + min(struct) argmin.
      // SMD < 0.1 after matching is the standard pass bar.
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("sp"),
          count(lit(1)).as("no"))
      val cust = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("ck"),
          (col("c_mktsegment") === "BUILDING").as("treated"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"),
          coalesce(col("sp"), lit(0L)).as("x_spend"),
          coalesce(col("no"), lit(0L)).as("x_orders"))
      val controls = cust.filter(!col("treated"))
        .select(expr("v div 1000").as("bk"), col("v").as("cv"),
          col("ck").as("cck"), col("x_spend").as("c_spend"),
          col("x_orders").as("c_orders"))
      val matched = cust.filter(col("treated"))
        .crossJoin(broadcast(s.range(-1, 2).select(col("id").as("off"))))
        .select(col("ck"), col("v"), col("x_spend"), col("x_orders"),
          (expr("v div 1000") + col("off")).as("bk"))
        .join(controls, Seq("bk"))
        .filter(abs(col("v") - col("cv")) <= 1000)
        .groupBy(col("ck"), col("v"), col("x_spend"), col("x_orders"))
        .agg(min(struct(abs(col("v") - col("cv")).as("ad"), col("cck"),
          col("cv").as("mcv"), col("c_spend").as("mcs"),
          col("c_orders").as("mco"))).as("m"))
      def mom(df: DataFrame, c: Column, pre: String) =
        df.agg(count(lit(1)).as(s"${pre}_n"), sum(c).as(s"${pre}_s1"),
          sum(c.cast("decimal(19,0)") * c.cast("decimal(19,0)"))
            .as(s"${pre}_s2"))
      def smd(tn: Column, ts1: Column, ts2: Column,
              cn: Column, cs1: Column, cs2: Column) = {
        val mt = ts1.cast("double") / tn
        val mc = cs1.cast("double") / cn
        val vt = (tn.cast("double") * ts2.cast("double") -
          ts1.cast("double") * ts1) / (tn.cast("double") * (tn - 1))
        val vc = (cn.cast("double") * cs2.cast("double") -
          cs1.cast("double") * cs1) / (cn.cast("double") * (cn - 1))
        (mt - mc) / sqrt((vt + vc) / 2)
      }
      val tAll = cust.filter(col("treated"))
      val cAll = cust.filter(!col("treated"))
      val wide = Seq(
        ("acctbal", col("v"), col("m.mcv")),
        ("orders", col("x_orders"), col("m.mco")),
        ("spend", col("x_spend"), col("m.mcs"))).map { case (nm, rc, mc) =>
        mom(tAll, rc, "tb").crossJoin(mom(cAll, rc, "cb"))
          .crossJoin(mom(matched, rc, "ta"))
          .crossJoin(mom(matched, mc, "ca"))
          .select(lit(nm).as("covariate"),
            round(smd(col("tb_n"), col("tb_s1"), col("tb_s2"),
              col("cb_n"), col("cb_s1"), col("cb_s2")), 4)
              .as("smd_before"),
            round(smd(col("ta_n"), col("ta_s1"), col("ta_s2"),
              col("ca_n"), col("ca_s1"), col("ca_s2")), 4)
              .as("smd_after"))
      }.reduce(_.unionAll(_))
      wide.select(col("covariate"), col("smd_before"), col("smd_after"),
          round(lit(1.0) - abs(col("smd_after")) / abs(col("smd_before")),
            4).as("reduction"))
        .orderBy(col("covariate"))
    }),

    "q344_process_capability" -> ((s, dir) => {
      // Process-capability indices Cp/Cpk on the order-reconciliation
      // gap (q339's fixture) against a +/-$1.00 spec: the
      // manufacturing-quality lens on a billing pipeline. Moments are
      // exact (decimal square sum), the normal out-of-spec prediction
      // uses the A&S 7.1.26 erf polynomial, and observed ppm is an
      // exact integer count.
      val diffs = orderTotalDiffs(s, dir)
      val lim = 100.0
      val mom = diffs.agg(count(lit(1)).as("n"), sum(col("diff")).as("s1"),
          sum(col("diff").cast("decimal(19,0)") *
            col("diff").cast("decimal(19,0)")).as("s2"),
          sum(when(abs(col("diff")) > lim, 1L).otherwise(0L)).as("oos"))
        .select(col("n"), col("oos"),
          (col("s1").cast("double") / col("n")).as("mu"),
          sqrt((col("n").cast("double") * col("s2").cast("double") -
            col("s1").cast("double") * col("s1")) /
            (col("n").cast("double") * (col("n") - 1))).as("sd"))
      def phiTail(z: Column) = {
        // upper-tail 1 - Phi(z) for z >= 0 via A&S erf polynomial
        val x = z / math.sqrt(2.0)
        val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
        (lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
          exp(-x * x) / 2
      }
      mom.select(col("n").as("n_orders"),
        round(col("mu"), 4).as("mean_gap_cents"),
        round(col("sd"), 4).as("sd_cents"),
        round(lit(2 * lim) / (col("sd") * 6), 4).as("cp"),
        round(least(lit(lim) - col("mu"), col("mu") + lim) /
          (col("sd") * 3), 4).as("cpk"),
        round(col("oos").cast("double") / col("n") * 1e6, 2)
          .as("ppm_observed"),
        round((phiTail((lit(lim) - col("mu")) / col("sd")) +
          phiTail((col("mu") + lim) / col("sd"))) * 1e6, 2)
          .as("ppm_normal_pred"))
    }),

    "q345_wald_sprt" -> ((s, dir) => {
      // Wald sequential probability ratio test replayed over the daily
      // order stream: H0 p=0.32 vs H1 p=0.34 on the fully-shipped
      // share, alpha = beta = 0.05. The log-likelihood-ratio walk is a
      // prefix sum over the calendar-bounded day table; the verdict is
      // the FIRST day the walk leaves (ln(0.05/0.95), ln(19)) — the
      // always-valid early-stopping monitor dashboards pretend to be.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("nd"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("x"))
      // calendar-bounded: plain window safe
      val llr = daily
        .withColumn("inc",
          col("x") * math.log(0.34 / 0.32) +
            (col("nd") - col("x")) * math.log(0.66 / 0.68))
        .withColumn("cum", sum(col("inc")).over(Window.orderBy(col("d"))))
      val a = math.log(0.95 / 0.05)
      val b = math.log(0.05 / 0.95)
      val ends = llr.agg(count(lit(1)).as("n_days"),
        min(when(col("cum") >= a, col("d"))).as("d_up"),
        min(when(col("cum") <= b, col("d"))).as("d_dn"),
        round(sum(col("inc")), 4).as("llr_final"))
      ends.select(col("n_days"),
        date_format(col("d_up"), "yyyy-MM-dd").as("first_h1_cross"),
        date_format(col("d_dn"), "yyyy-MM-dd").as("first_h0_cross"),
        when(col("d_up").isNull && col("d_dn").isNull, "continue")
          .when(col("d_dn").isNull || (col("d_up").isNotNull &&
            col("d_up") < col("d_dn")), "accept_h1")
          .otherwise("accept_h0").as("decision"),
        col("llr_final"))
    }),

    "q346_cindex" -> ((s, dir) => {
      // Harrell's concordance index for "order frequency predicts
      // churn survival" on q177's lifespan fixture — WITHOUT pair
      // enumeration: units collapse to the (duration x score) grid
      // (calendar-bounded x activity-bounded), per-score suffix counts
      // over duration give "outlived" tallies, a bounded prefix along
      // the score axis splits them into concordant / tied / discordant,
      // and every pair count stays an exact integer product until the
      // final division. The survival-model AUC, at any corpus size.
      val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val units = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first"),
          max(col("o_orderdate")).as("last"), count(lit(1)).as("no"))
        .crossJoin(broadcast(maxD))
        .select(datediff(col("last"), col("first")).cast("long")
            .as("dur"),
          (datediff(col("mx"), col("last")) > 90).as("event"),
          least(col("no"), lit(60L)).as("sc"))
      val cells = units.groupBy(col("dur"), col("sc"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d_ev"))
      val grid = cells.select(col("dur")).distinct()
        .crossJoin(cells.select(col("sc")).distinct())
        .join(cells, Seq("dur", "sc"), "left")
        .select(col("dur"), col("sc"),
          coalesce(col("c_all"), lit(0L)).as("cnt"),
          coalesce(col("d_ev"), lit(0L)).as("d_ev"))
      val scTot = grid.groupBy(col("sc")).agg(sum(col("cnt")).as("tot"))
      val withSuf = PrefixSum.groupedRunningSum(grid, "sc", "dur",
          col("cnt"), "run")
        .join(broadcast(scTot), Seq("sc"))
        .withColumn("s_gt", col("tot") - col("run"))
      // score axis bounded (<=60 values): per-dur window safe
      val wSc = Window.partitionBy(col("dur")).orderBy(col("sc"))
      val split = withSuf
        .withColumn("p_lt", coalesce(sum(col("s_gt")).over(
          wSc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("t_all", sum(col("s_gt")).over(
          wSc.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      split.filter(col("d_ev") > 0)
        .agg(sum(col("d_ev") *
            (col("t_all") - col("p_lt") - col("s_gt"))).as("conc"),
          sum(col("d_ev") * col("s_gt")).as("tied"),
          sum(col("d_ev") * col("p_lt")).as("disc"),
          sum(col("d_ev") * col("t_all")).as("comparable"))
        .select(col("conc"), col("tied"), col("disc"), col("comparable"),
          round((col("conc").cast("double") +
            lit(0.5) * col("tied")) / col("comparable"), 6).as("c_index"))
    }),

    "q347_tost_equivalence" -> ((s, dir) => {
      // TOST equivalence test: are BUILDING and MACHINERY mean order
      // values equivalent within +/-$5000? Two one-sided z tests
      // against the margins — the regulatory-grade way to CLAIM "no
      // difference" (a big p on a t-test never does). Exact integer
      // dollar moments per segment; the A&S erf polynomial turns each
      // z into its one-sided p; verdict at alpha 0.05.
      val g = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").as("is_a"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
        .groupBy(col("is_a"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"))
      val wide = g.agg(
        sum(when(col("is_a"), col("n")).otherwise(0L)).as("na"),
        sum(when(col("is_a"), col("s1")).otherwise(0L)).as("sa1"),
        sum(when(col("is_a"), col("s2")).otherwise(0L)).as("sa2"),
        sum(when(!col("is_a"), col("n")).otherwise(0L)).as("nb"),
        sum(when(!col("is_a"), col("s1")).otherwise(0L)).as("sb1"),
        sum(when(!col("is_a"), col("s2")).otherwise(0L)).as("sb2"))
      def v(n: Column, s1: Column, s2: Column) =
        (n.cast("double") * s2.cast("double") -
          s1.cast("double") * s1) / (n.cast("double") * (n - 1))
      val base = wide.select(col("na"), col("nb"),
          (col("sa1").cast("double") / col("na") -
            col("sb1").cast("double") / col("nb")).as("diff"),
          sqrt(v(col("na"), col("sa1"), col("sa2")) / col("na") +
            v(col("nb"), col("sb1"), col("sb2")) / col("nb")).as("se"))
      def pUpper(z: Column) = {
        // one-sided upper-tail p for a NEGATIVE-or-any z: 1 - Phi(z)
        // computed as erfc-half via A&S on |z|, reflected for z < 0
        val x = abs(z) / math.sqrt(2.0)
        val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
        val half = (lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
          exp(-x * x) / 2
        when(z >= 0, half).otherwise(lit(1.0) - half)
      }
      val margin = 5000.0
      base.select(col("na").as("n_building"), col("nb").as("n_machinery"),
          round(col("diff"), 2).as("diff_dollars"),
          round(col("se"), 2).as("se"),
          round(pUpper((col("diff") + margin) / col("se")), 6)
            .as("p_lower"),
          round(pUpper((lit(margin) - col("diff")) / col("se")), 6)
            .as("p_upper"))
        .withColumn("p_tost", greatest(col("p_lower"), col("p_upper")))
        .withColumn("equivalent", col("p_tost") < 0.05)
    }),

    "q348_rmst" -> ((s, dir) => {
      // Restricted mean survival time at tau = 365 days over q177's
      // Kaplan-Meier churn curve: the area under S(t) up to tau — the
      // "average retained days in year one" number execs actually want
      // from a survival model. Step integration over the bounded
      // event-time table: width x S(previous step), plus the tail
      // rectangle to tau; S is the same exact-ratio product-limit
      // prefix.
      val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first"),
          max(col("o_orderdate")).as("last"))
        .crossJoin(broadcast(maxD))
        .select(datediff(col("last"), col("first")).cast("long")
          .as("dur"),
          (datediff(col("mx"), col("last")) > 90).as("event"))
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d_events"))
      val tot = byDur.agg(sum(col("c_all")).as("n_total"))
      val risk = PrefixSum.groupedRunningSum(
          byDur.withColumn("__g", lit(1)), "__g", "dur", col("c_all"),
          "cum_all")
        .crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
      val surv = risk
        .filter(col("d_events") > 0 && col("n_risk") > col("d_events"))
        .withColumn("s", exp(sum(log(
          (col("n_risk") - col("d_events")).cast("double") /
            col("n_risk").cast("double"))).over(durRunning)))
        .filter(col("dur") <= 365)
      val steps = surv
        .withColumn("pd", coalesce(lag(col("dur"), 1)
          .over(Window.orderBy(col("dur"))), lit(0L)))
        .withColumn("ps", coalesce(lag(col("s"), 1)
          .over(Window.orderBy(col("dur"))), lit(1.0)))
        .withColumn("contrib",
          col("ps") * (col("dur") - col("pd")).cast("double"))
      steps.agg(count(lit(1)).as("n_steps"),
          sum(col("contrib")).as("area"),
          max(col("dur")).as("last_t"))
        .crossJoin(broadcast(surv
          .withColumn("rk", row_number().over(
            Window.orderBy(col("dur").desc)).cast("long"))
          .filter(col("rk") === 1).select(col("s").as("s_last"))))
        .select(lit(365L).as("tau_days"), col("n_steps"),
          round(col("area") +
            col("s_last") * (lit(365L) - col("last_t")).cast("double"),
            4).as("rmst_days"))
    }),

    "q349_capture_recapture" -> ((s, dir) => {
      // Lincoln-Petersen / Chapman capture-recapture: estimate the
      // active customer population from two "captures" (ordered in
      // 1995, ordered in 1996) and the recapture overlap — the
      // ecology-grade estimator for "how many users do we really
      // have" when any one window undercounts. Exact integer counts,
      // Chapman's bias-corrected point estimate and its closed-form
      // SE, compared against the directly-observed population.
      val flags = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(year(col("o_orderdate")) === 1995, 1L)
          .otherwise(0L)).as("a"),
          max(when(year(col("o_orderdate")) === 1996, 1L)
            .otherwise(0L)).as("b"))
      flags.agg(count(lit(1)).as("n_ever"),
          sum(col("a")).as("n1"), sum(col("b")).as("n2"),
          sum(col("a") * col("b")).as("m"))
        .select(col("n_ever"), col("n1"), col("n2"), col("m"),
          round((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1, 2).as("n_hat_chapman"),
          round(sqrt((col("n1") + 1).cast("double") * (col("n2") + 1) *
            (col("n1") - col("m")) * (col("n2") - col("m")) /
            ((col("m") + 1).cast("double") * (col("m") + 1) *
              (col("m") + 2))), 2).as("se"))
    }),

    "q350_xirr_bisection" -> ((s, dir) => {
      // IRR per market segment via 30-step bisection — the finance
      // closer for the 350-query surface: treat each segment's 1996-H2
      // revenue as the investment and its 12 monthly 1997 revenues as
      // returns, and solve NPV(r) = 0 for the monthly rate. The cash
      // flows pivot to a WIDE 5-row frame (13 exact-kilodollar
      // columns), so every bisection step is one fixed-operand-order
      // NPV expression + interval update — one Recurrence per row,
      // deterministic on both engines (q340's fold pattern).
      val seg = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      val c0 = seg.filter(year(col("o_orderdate")) === 1996 &&
          month(col("o_orderdate")) >= 7)
        .groupBy(col("c_mktsegment").as("sg"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) " +
          "div 1000 AS BIGINT)").as("c0"))
      val months = (1 to 12).map(mm =>
        sum(when(month(col("o_orderdate")) === mm,
          expr("CAST(floor(o_totalprice) AS BIGINT)")).otherwise(0L))
          .as(s"raw$mm"))
      val cf = seg.filter(year(col("o_orderdate")) === 1997)
        .groupBy(col("c_mktsegment").as("sg"))
        .agg(months.head, months.tail: _*)
        .select(col("sg") +: (1 to 12).map(mm =>
          expr(s"CAST(raw$mm div 1000 AS BIGINT)").as(s"cf$mm")): _*)
      def npv(r: Column) = (1 to 12).foldLeft(col("c0").cast("double")
          * -1.0)((acc, mm) =>
        acc + col(s"cf$mm") / pow(r + 1.0, mm.toDouble))
      val rate = Recurrence.iterate(Seq("lo" -> lit(0.0), "hi" -> lit(1.0)),
          30) { st =>
        val mid = (st("lo") + st("hi")) / 2
        Seq(when(npv(mid) > 0, mid).otherwise(st("lo")),
          when(npv(mid) > 0, st("hi")).otherwise(mid))
      }
      c0.join(cf, Seq("sg"))
        .select(col("sg") +: col("c0") +:
          (1 to 12).map(mm => col(s"cf$mm")) :+ rate.as("r"): _*)
        .select(col("sg").as("segment"), col("c0").as("c0_kusd"),
          (1 to 12).map(mm => col(s"cf$mm")).reduce(_ + _)
            .as("total_return_kusd"),
          round((col("r.lo") + col("r.hi")) / 2, 8).as("irr_monthly"))
        .withColumn("irr_annual",
          round(pow(col("irr_monthly") + 1.0, 12.0) - 1.0, 6))
        .orderBy(col("segment"))
    }),

    "q351_var_es" -> ((s, dir) => {
      // Historical 95% Value-at-Risk + expected shortfall on the
      // day-over-day revenue change, plus the Cornish-Fisher
      // moment-adjusted VaR. Changes stay EXACT integer cents through
      // the diff (the adjacent-index equi-join off the two-phase global
      // rank — no global window); the tail cut is an exact rank
      // k = ceil(0.05 n), so VaR is a real observed loss, not an
      // interpolated float. Moments for Cornish-Fisher are plain double
      // sums over the calendar-bounded diff series (engine-identical
      // IEEE ops, rounded outputs).
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("cents"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
        .select(col("i"), col("cents"))
      val diffs = idx.join(
          idx.select((col("i") + 1).as("i"), col("cents").as("prev")),
          Seq("i"))
        .select(col("i"), (col("cents") - col("prev")).as("d"))
      val ranked = graft.ops.PrefixSum.globalRank(
        diffs, Seq(col("d"), col("i")), "rk")
      val st = diffs
        .select((col("d").cast("double") / 100.0).as("x"))
        .agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .select(col("n"), (col("s1") / col("n")).as("m"),
          col("s2"), col("s3"), col("s4"))
        .select(col("n"), col("m"),
          (col("s2") / col("n") - col("m") * col("m")).as("v2"),
          (col("s3") / col("n") - lit(3) * col("m") * col("s2") / col("n") +
            lit(2) * col("m") * col("m") * col("m")).as("m3"),
          (col("s4") / col("n") - lit(4) * col("m") * col("s3") / col("n") +
            lit(6) * col("m") * col("m") * col("s2") / col("n") -
            lit(3) * col("m") * col("m") * col("m") * col("m")).as("m4"))
        .select(col("n"), col("m"), sqrt(col("v2")).as("sd"),
          (col("m3") / pow(col("v2"), 1.5)).as("g1"),
          (col("m4") / (col("v2") * col("v2")) - 3).as("g2"))
      val z = lit(-1.6448536269514722)
      val cf = st.select(col("n"), col("m"), col("sd"), col("g1"),
          col("g2"),
          (z + (z * z - 1) * col("g1") / 6 +
            (z * z * z - lit(3) * z) * col("g2") / 24 -
            (lit(2) * z * z * z - lit(5) * z) * col("g1") * col("g1") / 36)
            .as("zcf"))
      val tail = ranked.crossJoin(broadcast(
          diffs.agg(count(lit(1)).as("nd")).select(col("nd"),
            expr("(nd + 19) div 20").as("k"))))
        .filter(col("rk") <= col("k"))
        .groupBy(col("nd"))
        .agg(max(col("d")).as("var_cents"),
          avg(col("d").cast("double")).as("es_cents"))
      tail.crossJoin(broadcast(cf))
        .select(col("nd").as("n_diffs"),
          round(-col("var_cents").cast("double") / 100.0, 2).as("var95"),
          round(-col("es_cents") / 100.0, 2).as("es95"),
          round(-(col("m") + col("zcf") * col("sd")), 2).as("cf_var95"),
          round(col("g1"), 4).as("skew"),
          round(col("g2"), 4).as("ex_kurt"))
    }),

    "q352_sharpe_sortino" -> ((s, dir) => {
      // Risk-adjusted return report per event type: Sharpe and Sortino
      // ratios of the daily value-flow changes. The day reduction is a
      // hash aggregate first; per-type adjacent diffs come from the
      // grouped two-phase prefix rank (no per-type window over raw
      // events); downside deviation uses only the negative diffs —
      // the asymmetry Sortino exists to capture. Annualized by
      // sqrt(252) convention.
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("y"))
      val idx = graft.ops.PrefixSum.groupedRunningSum(
        daily.withColumn("one", lit(1L)), "et", "day", col("one"), "i")
        .select(col("et"), col("i"), col("y"))
      val diffs = idx.join(
          idx.select(col("et"), (col("i") + 1).as("i"), col("y").as("prev")),
          Seq("et", "i"))
        .select(col("et"), (col("y") - col("prev")).as("d"))
      diffs.groupBy(col("et"))
        .agg(count(lit(1)).as("n_diffs"), sum(col("d")).as("s1"),
          sum(col("d") * col("d")).as("s2"),
          sum(when(col("d") < 0, col("d") * col("d")).otherwise(0.0))
            .as("sneg"))
        .select(col("et"), col("n_diffs"),
          (col("s1") / col("n_diffs")).as("m"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n_diffs")) /
            (col("n_diffs") - 1)).as("sd"),
          sqrt(col("sneg") / col("n_diffs")).as("dd"))
        .select(col("et"), col("n_diffs"),
          round(col("m"), 2).as("mean_diff"),
          round(col("m") / col("sd") * sqrt(lit(252.0)), 4).as("sharpe"),
          round(col("m") / col("dd") * sqrt(lit(252.0)), 4).as("sortino"))
        .orderBy(col("et"))
    }),

    "q353_mann_kendall" -> ((s, dir) => {
      // Mann-Kendall trend test + Sen's slope over weekly revenue: the
      // nonparametric "is there a monotone trend" answer (q176's CUSUM
      // finds WHERE the level shifts; this says WHETHER it drifts).
      // S and the tie-corrected variance are exact integers from the
      // week-pair sign table (weeks are calendar-bounded, so the pair
      // join is bounded, never corpus-sized); Sen's slope is the exact
      // median pair slope — slopes quantized to integer micro-dollars
      // per week via IEEE-identical double ops so both engines rank
      // the same longs.
      val weekly = t(s, dir, "orders")
        .groupBy((datediff(to_date(col("o_orderdate")),
          lit("1992-01-01")).cast("long") / lit(7L)).cast("long").as("wk"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("c"))
      val pairs = weekly.as("a").join(weekly.as("b"),
          col("a.wk") < col("b.wk"))
        .select(col("a.wk").as("w1"), col("b.wk").as("w2"),
          (col("b.c") - col("a.c")).as("dv"),
          (col("b.wk") - col("a.wk")).as("dt"))
      val sstat = pairs.agg(sum(signum(col("dv").cast("double"))
          .cast("long")).as("s_stat"), count(lit(1)).as("m"))
      val nties = weekly.groupBy(col("c")).agg(count(lit(1)).as("tc"))
        .agg(sum(col("tc")).as("n"),
          sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
            .as("tcor"))
      val slopes = pairs.select(col("w1"), col("w2"),
        floor(lit(1000000.0) * col("dv").cast("double") /
          (lit(100.0) * col("dt").cast("double"))).cast("long").as("sl"))
      val ranked = graft.ops.PrefixSum.globalRank(
        slopes, Seq(col("sl"), col("w1"), col("w2")), "rk")
      val med = ranked.crossJoin(broadcast(
          slopes.agg(count(lit(1)).as("mm"))))
        .filter(col("rk") === expr("(mm + 1) div 2") ||
          col("rk") === expr("(mm + 2) div 2"))
        .agg(avg(col("sl").cast("double")).as("med_micro"))
      sstat.crossJoin(broadcast(nties)).crossJoin(broadcast(med))
        .select(col("n").as("n_weeks"), col("s_stat"),
          ((col("n").cast("double") * (col("n") - 1) *
            (lit(2) * col("n") + 5) - col("tcor")) / 18.0).as("var_s"),
          col("med_micro"))
        .select(col("n_weeks"), col("s_stat"),
          round(col("var_s"), 2).as("var_s"),
          round((col("s_stat") -
            signum(col("s_stat").cast("double"))) /
            sqrt(col("var_s")), 4).as("z"),
          round(col("med_micro") / 1000000.0, 4).as("sen_slope"))
        .select(col("n_weeks"), col("s_stat"), col("var_s"), col("z"),
          col("sen_slope"),
          when(col("z") > 1.96, "increasing")
            .when(col("z") < -1.96, "decreasing")
            .otherwise("no_trend").as("trend"))
    }),

    "q354_ljung_box" -> ((s, dir) => {
      // Ljung-Box portmanteau whiteness test on the daily engagement
      // series at lags 1..10 — "is there ANY autocorrelation left"
      // (q175 reports the individual r_k; this pools them into one
      // decision statistic). Same shifted-index equi-join machinery;
      // the df=10 chi-square survival has the exact even-df closed
      // form exp(-x/2)*sum_{j<5}(x/2)^j/j! — no incomplete-gamma
      // library dependence to drift cross-engine.
      import s.implicits._
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("y"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
        .select(col("i"), col("y"))
      val st = idx.agg(count(lit(1)).cast("double").as("n"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
        .select(col("n"), (col("sy") / col("n")).as("mu"),
          (col("syy") - col("sy") * col("sy") / col("n")).as("denom"))
      val shifted = idx.crossJoin(broadcast((1 to 10).toDF("lag")))
        .select(col("lag"), (col("i") + col("lag")).as("i"),
          col("y").as("y_lag"))
      val rks = idx.join(shifted, Seq("i"))
        .crossJoin(broadcast(st))
        .groupBy(col("lag"), col("n"), col("mu"), col("denom"))
        .agg(sum((col("y") - col("mu")) * (col("y_lag") - col("mu")))
          .as("num"))
        .select(col("lag"), col("n"),
          (col("num") / col("denom")).as("r"))
      val qs = rks
        .select(col("n"), (col("r") * col("r") /
          (col("n") - col("lag"))).as("term"))
        .groupBy(col("n"))
        .agg(sum(col("term")).as("tsum"))
        .select(col("n"),
          (col("n") * (col("n") + 2) * col("tsum")).as("q"))
      val h = col("q") / 2
      qs.select(col("n").cast("long").as("n_days"),
        round(col("q"), 4).as("q_stat"),
        round(exp(-h) * (lit(1.0) + h + h * h / 2 + h * h * h / 6 +
          h * h * h * h / 24), 6).as("p_approx"))
    }),

    "q355_bartlett" -> ((s, dir) => {
      // Bartlett's variance-homogeneity test across the five market
      // segments — the parametric (normal-theory) counterpart of
      // q337's Brown-Forsythe: more powerful when normality holds,
      // fragile when it doesn't, so the pair together brackets the
      // pooled-variance assumption. Group variances come from the same
      // exact integer moment pass as q336; ln() drift is absorbed by
      // the rounded outputs.
      val g = t(s, dir, "customer")
        .select(col("c_mktsegment").as("sg"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
        .groupBy(col("sg"))
        .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg1"),
          sum(col("v") * col("v")).as("sg2"))
        .select(col("ng"),
          ((col("sg2").cast("double") -
            col("sg1").cast("double") * col("sg1") / col("ng")) /
            (col("ng") - 1)).as("s2"))
      val stat = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum((col("ng") - 1) * col("s2")).as("ssw"),
          sum((col("ng") - 1) * log(col("s2"))).as("sln"),
          sum(lit(1.0) / (col("ng") - 1)).as("sinv"),
          max(col("s2")).as("vmax"), min(col("s2")).as("vmin"))
        .select(col("k"), col("n"), col("vmax"), col("vmin"),
          (col("ssw") / (col("n") - col("k"))).as("sp2"),
          col("sln"), col("sinv"))
        .select(col("k"), col("n"), col("vmax"), col("vmin"),
          (((col("n") - col("k")) * log(col("sp2")) - col("sln")) /
            (lit(1.0) + (col("sinv") - lit(1.0) / (col("n") - col("k"))) /
              (lit(3.0) * (col("k") - 1)))).as("chi2"))
      val x = col("chi2")
      stat.select(col("n").as("n_cust"), col("k").as("k_groups"),
        round(col("vmax") / col("vmin"), 4).as("var_ratio"),
        round(col("chi2"), 4).as("bartlett_chi2"),
        round(exp(-x / 2) * (lit(1.0) + x / 2), 6).as("p_approx"))
    }),

    "q356_cochran_q" -> ((s, dir) => {
      // Cochran's Q: do the event types differ in HIGH-VALUE reach
      // (value > 95), treating each user as their own block (the
      // repeated-measures cousin of the chi-square homogeneity test —
      // it conditions out per-user activity levels entirely)?
      // x_ij = user i logged a value>95 event of type j; everything is
      // exact integer arithmetic on the deduped (user, type) presence
      // table until the final two divisions. Plain presence would be
      // degenerate here (every user touches every type — denominator
      // 0); the threshold restores per-block variation.
      val ut = events(s, dir)
        .filter(col("value") > 95)
        .select(col("user_id").as("u"), col("event_type").as("et"))
        .distinct()
      val gj = ut.groupBy(col("et")).agg(count(lit(1)).as("g"))
        .agg(count(lit(1)).as("k"), sum(col("g")).as("sg"),
          sum(col("g") * col("g")).as("sg2"))
      val li = ut.groupBy(col("u")).agg(count(lit(1)).as("l"))
        .agg(count(lit(1)).as("n_users"), sum(col("l")).as("sl"),
          sum(col("l") * col("l")).as("sl2"))
      gj.crossJoin(broadcast(li))
        .select(col("n_users"), col("k").as("k_types"),
          ((col("k") - 1).cast("double") *
            (col("k") * col("sg2") - col("sg") * col("sg")) /
            (col("k") * col("sl") - col("sl2"))).as("q"))
        .select(col("n_users"), col("k_types"),
          round(col("q"), 4).as("q_stat"),
          round(exp(-col("q") / 2) * (lit(1.0) + col("q") / 2), 6)
            .as("p_approx"))
    }),

    "q357_mood_median" -> ((s, dir) => {
      // Mood's median test across order priorities: counts above/at-or-
      // below the GLOBAL median only — maximally robust (uses one bit
      // per row), the coarse cross-check on q319's rank-sum
      // Kruskal-Wallis. The grand median is picked at the exact rank
      // via the two-phase global ranker; the chi-square assembles from
      // exact integer cell counts vs margin-product expectations.
      val base = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
          col("o_orderkey").as("ok"))
      val ranked = graft.ops.PrefixSum.globalRank(
        base, Seq(col("v"), col("ok")), "rk")
      val med = ranked.crossJoin(broadcast(
          base.agg(count(lit(1)).as("n"))))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("v").as("med"))
      val cells = base.crossJoin(broadcast(med))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("ng"),
          sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("above"))
      val tots = cells.agg(sum(col("ng")).as("n"),
        sum(col("above")).as("ta"))
      val chi = cells.crossJoin(broadcast(tots))
        .select(col("pr"), col("ng"), col("above"),
          (col("ng").cast("double") * col("ta") / col("n")).as("ea"),
          (col("ng").cast("double") * (col("n") - col("ta")) / col("n"))
            .as("eb"))
        .select(col("pr"), col("ng"), col("above"),
          ((col("above") - col("ea")) * (col("above") - col("ea")) /
            col("ea") +
           ((col("ng") - col("above")) - col("eb")) *
            ((col("ng") - col("above")) - col("eb")) / col("eb"))
            .as("contrib"))
      val stat = chi.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("contrib")).as("chi2"))
      val x = col("chi2")
      stat.select(col("n").as("n_orders"), col("k").as("k_groups"),
        round(col("chi2"), 4).as("chi2"),
        round(exp(-x / 2) * (lit(1.0) + x / 2), 6).as("p_approx"))
    }),

    "q358_jonckheere" -> ((s, dir) => {
      // Jonckheere-Terpstra ordered-alternative test: does quantity
      // trend UPWARD across line numbers 1..7 (an a-priori ordering
      // Kruskal-Wallis q319 cannot use)? The pairwise Mann-Whitney
      // counts never enumerate row pairs: per-(group, value) counts on
      // the bounded 7x50 grid, suffix counts via the grid window
      // (350 broadcast-sized rows), 2J kept exact integer (ties count
      // once, x2 scaling). The tie-corrected variance's cubic terms run
      // in doubles — exact inputs, identical IEEE ops both engines,
      // and overflow-safe where BIGINT cubes of corpus counts are not.
      val base = t(s, dir, "lineitem")
        .select(col("l_linenumber").cast("long").as("grp"),
          col("l_quantity").cast("long").as("v"))
      val gv = base.groupBy(col("grp"), col("v"))
        .agg(count(lit(1)).as("c"))
      val ng = base.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      // suffix count of group g strictly above value v, on the bounded
      // grid (|grid| = groups x distinct quantities — window is fine)
      val wsuf = Window.partitionBy(col("grp")).orderBy(col("v"))
        .rowsBetween(1, Window.unboundedFollowing)
      // GT must be defined on the FULL value grid (group i may hold
      // values group j never takes — those rows still beat all of j's
      // smaller values), so zero-fill the grid before the suffix scan.
      val grid = base.select(col("v")).distinct()
        .crossJoin(ng.select(col("grp")))
      val gvFull = grid.join(gv, Seq("grp", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val sufFull = gvFull.withColumn("gt",
        coalesce(sum(col("c")).over(wsuf), lit(0L)))
      val j2full = gv.as("a").join(sufFull.as("b"),
          col("a.grp") < col("b.grp") && col("a.v") === col("b.v"))
        .agg(sum(col("a.c") * (lit(2) * col("b.gt") + col("b.c")))
          .as("j2"))
      val nstats = ng.agg(sum(col("n")).as("nn"),
        sum(col("n").cast("double") * (col("n") - 1) *
          (lit(2) * col("n") + 5)).as("t2g"),
        sum(col("n").cast("double") * (col("n") - 1) * (col("n") - 2))
          .as("t3g"),
        sum(col("n").cast("double") * (col("n") - 1)).as("t1g"),
        sum(col("n").cast("double") * col("n")).as("sn2"))
      val tstats = base.groupBy(col("v")).agg(count(lit(1)).as("t"))
        .agg(sum(col("t").cast("double") * (col("t") - 1) *
            (lit(2) * col("t") + 5)).as("t2v"),
          sum(col("t").cast("double") * (col("t") - 1) * (col("t") - 2))
            .as("t3v"),
          sum(col("t").cast("double") * (col("t") - 1)).as("t1v"))
      j2full.crossJoin(broadcast(nstats)).crossJoin(broadcast(tstats))
        .select(col("nn").as("n_rows"), col("j2"),
          ((col("nn").cast("double") * col("nn") - col("sn2")) / 2)
            .as("mean2"),
          (((col("nn").cast("double") * (col("nn") - 1) *
              (lit(2) * col("nn") + 5) - col("t2g") - col("t2v")) / 72 +
            col("t3g") * col("t3v") /
              (lit(36.0) * col("nn") * (col("nn") - 1) * (col("nn") - 2)) +
            col("t1g") * col("t1v") /
              (lit(8.0) * col("nn") * (col("nn") - 1))) * 4).as("var4"))
        .select(col("n_rows"), col("j2"),
          round((col("j2") - col("mean2")) / sqrt(col("var4")), 4)
            .as("z"))
        .select(col("n_rows"), col("j2"), col("z"),
          when(col("z") > 1.96, "increasing")
            .when(col("z") < -1.96, "decreasing")
            .otherwise("no_trend").as("trend"))
    }),

    "q359_brier_murphy" -> ((s, dir) => {
      // Murphy decomposition of the q138 classifier's Brier score:
      // reliability (calibration error — what q144 plots), resolution
      // (how much the bins separate outcomes), uncertainty (the
      // no-skill floor). Shares classifierFeatures + the GD trainer
      // with q138/q144 so the decomposition audits EXACTLY that model;
      // one scored-corpus pass + one bounded 10-bin aggregate.
      val (feat, cols, w) = classifierModel(s, dir)
      val z = cols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-z)))
        .withColumn("bin", least(floor(col("p") * 10), lit(9))
          .cast("long"))
      val tot = scored.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum((col("p") - col("y")) * (col("p") - col("y"))).as("sq"))
      val bins = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("nk"), sum(col("p")).as("sp"),
          sum(col("y")).as("syk"))
      val dec = bins.crossJoin(broadcast(tot))
        .select(col("n"), col("sy"), col("sq"),
          (col("nk") * (col("sp") / col("nk") - col("syk") / col("nk")) *
            (col("sp") / col("nk") - col("syk") / col("nk"))).as("relk"),
          (col("nk") * (col("syk") / col("nk") - col("sy") / col("n")) *
            (col("syk") / col("nk") - col("sy") / col("n"))).as("resk"))
        .groupBy(col("n"), col("sy"), col("sq"))
        .agg(sum(col("relk")).as("rel"), sum(col("resk")).as("res"))
        .select(col("n"), (col("sq") / col("n")).as("brier"),
          (col("rel") / col("n")).as("rel"),
          (col("res") / col("n")).as("res"),
          ((col("sy") / col("n")) * (lit(1.0) - col("sy") / col("n")))
            .as("unc"))
      dec.select(col("n").as("n_docs"), round(col("brier"), 6).as("brier"),
        round(col("rel"), 6).as("reliability"),
        round(col("res"), 6).as("resolution"),
        round(col("unc"), 6).as("uncertainty"),
        round(col("brier") - (col("rel") - col("res") + col("unc")), 6)
          .as("decomp_gap"))
    }),

    "q360_ipw_ate" -> ((s, dir) => {
      // Inverse-propensity-weighted ATE with EXACT stratum propensities
      // (nation x segment cells): effect of a funded account
      // (acctbal > 0) on total order spend. Off-support strata
      // (propensity 0 or 1) are dropped and counted — the positivity
      // violation every IPW pipeline must surface, not hide. Hajek
      // normalization; weights are rationals from integer cell counts,
      // so both engines compute identical doubles.
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("yc"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("sg"),
          when(col("c_acctbal") > 0, 1L).otherwise(0L).as("tr"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("nk"), col("sg"), col("tr"),
          coalesce(col("yc"), lit(0L)).as("y"))
      val strata = cust.groupBy(col("nk"), col("sg"))
        .agg(count(lit(1)).as("ns"), sum(col("tr")).as("nt"))
      val kept = strata.filter(col("nt") > 0 && col("nt") < col("ns"))
        .withColumn("e", col("nt").cast("double") / col("ns"))
      val dropped = strata.filter(col("nt") === 0 ||
        col("nt") === col("ns"))
      val wtd = cust.join(broadcast(kept.select(col("nk"), col("sg"),
          col("e"))), Seq("nk", "sg"))
        .select(col("tr"), col("y"),
          when(col("tr") === 1, lit(1.0) / col("e"))
            .otherwise(lit(1.0) / (lit(1.0) - col("e"))).as("w"))
      val eff = wtd.agg(count(lit(1)).as("n_cust"),
          sum(when(col("tr") === 1, col("w")).otherwise(0.0)).as("wt"),
          sum(when(col("tr") === 1, col("w") * col("y")).otherwise(0.0))
            .as("wty"),
          sum(when(col("tr") === 0, col("w")).otherwise(0.0)).as("wc"),
          sum(when(col("tr") === 0, col("w") * col("y")).otherwise(0.0))
            .as("wcy"),
          sum(col("tr")).as("ntr"),
          sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("syt"),
          sum(when(col("tr") === 0, col("y")).otherwise(0L)).as("syc"))
      eff.crossJoin(broadcast(kept.agg(count(lit(1)).as("n_strata"))))
        .crossJoin(broadcast(dropped.agg(count(lit(1)).as("n_dropped"))))
        .select(col("n_cust"), col("n_strata"), col("n_dropped"),
          round((col("wty") / col("wt") - col("wcy") / col("wc")) / 100.0,
            2).as("ate_ipw"),
          round((col("syt").cast("double") / col("ntr") -
            col("syc").cast("double") / (col("n_cust") - col("ntr"))) /
            100.0, 2).as("ate_naive"))
    }),

    "q361_horvitz_thompson" -> ((s, dir) => {
      // Horvitz-Thompson total from a deterministic PPS Poisson sample:
      // orders sampled with probability proportional to price (capped
      // at 1), the estimator reconstructs the TOTAL LINEITEM COUNT from
      // the sample alone — unequal-probability design where q53's
      // uniform Bernoulli would waste budget on small orders. Inclusion
      // is keyHash-deterministic (identical longs both engines), so the
      // "random" sample is exactly reproducible anywhere.
      val x = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("x"))
      val tot = x.agg(sum(col("x")).as("tx"), count(lit(1)).as("no"))
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      val samp = x.crossJoin(broadcast(tot))
        .withColumn("pi", least(lit(1.0),
          col("x").cast("double") * 2000.0 / col("tx")))
        .withColumn("u", (Sampling.keyHash(col("ok")) + 0.5) /
          4294967296.0)
        .filter(col("u") < col("pi"))
        .join(li, col("ok") === col("l_orderkey"))
      val truth = li.agg(sum(col("cnt")).as("true_total"))
      samp.agg(count(lit(1)).as("n_sampled"),
          sum(col("cnt").cast("double") / col("pi")).as("ht"))
        .crossJoin(broadcast(truth))
        .select(col("n_sampled"), round(col("ht"), 2).as("ht_est"),
          col("true_total"),
          round(abs(col("ht") - col("true_total")) /
            col("true_total"), 4).as("rel_err"))
    }),

    "q362_lilliefors" -> ((s, dir) => {
      // Lilliefors (KS with ESTIMATED mean/sd) normality test on
      // account balances: the gatekeeper for every z/t-based query in
      // the gallery (q336/q347/q325 all assume roughly normal errors).
      // ECDF steps at exact two-phase global ranks, Phi via the A&S
      // erf polynomial with reflection; D is a max — no float
      // summation order anywhere.
      val base = t(s, dir, "customer")
        .select(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
          .as("v"), col("c_custkey").as("ck"))
      val mom = base.agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"))
        .select(col("n"), (col("s1").cast("double") / col("n") / 100.0)
          .as("m"),
          (sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("n")) /
            (col("n") - 1)) / 100.0).as("sd"))
      val ranked = graft.ops.PrefixSum.globalRank(
        base, Seq(col("v"), col("ck")), "i")
      val zed = ranked.crossJoin(broadcast(mom))
        .withColumn("z", (col("v").cast("double") / 100.0 - col("m")) /
          col("sd"))
      val xq = abs(col("z")) / math.sqrt(2.0)
      val tq = lit(1.0) / (lit(1.0) + lit(0.3275911) * xq)
      val tail = (lit(0.254829592) * tq - lit(0.284496736) * tq * tq +
        lit(1.421413741) * tq * tq * tq - lit(1.453152027) *
        tq * tq * tq * tq + lit(1.061405429) * tq * tq * tq * tq * tq) *
        exp(-xq * xq) / 2
      val phid = zed.withColumn("phi",
        when(col("z") >= 0, lit(1.0) - tail).otherwise(tail))
      phid
        .select(greatest(
            col("i").cast("double") / col("n") - col("phi"),
            col("phi") - (col("i") - 1).cast("double") / col("n"))
          .as("gap"), col("n"))
        .groupBy(col("n")).agg(max(col("gap")).as("d"))
        .select(col("n").as("n_cust"), round(col("d"), 6).as("d_stat"),
          round(lit(0.886) / sqrt(col("n").cast("double")), 6)
            .as("crit_05"),
          (col("d") > lit(0.886) / sqrt(col("n").cast("double")))
            .as("rejected"))
    }),

    "q363_yule_walker_ar2" -> ((s, dir) => {
      // AR(2) fit on daily revenue via Yule-Walker (closed form from
      // the q175-style r1/r2 — no optimizer), then an in-sample
      // one-step backtest vs naive persistence. The honest question
      // for every autoregressive claim: does the fitted memory BEAT
      // just repeating yesterday? Series is calendar-bounded; dollars
      // (not cents) keep the double square sums well-conditioned.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(floor(col("o_totalprice") * 100 + 0.5)) / 100.0)
          .cast("double").as("y"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
        .select(col("i"), col("y"))
      val st = idx.agg(count(lit(1)).cast("double").as("n"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
        .select(col("n"), (col("sy") / col("n")).as("mu"),
          (col("syy") - col("sy") * col("sy") / col("n")).as("denom"))
      val l1 = idx.select((col("i") + 1).as("i"), col("y").as("y1"))
      val l2 = idx.select((col("i") + 2).as("i"), col("y").as("y2"))
      val tri = idx.join(l1, Seq("i")).join(l2, Seq("i"))
      val rs = tri.crossJoin(broadcast(st))
        .groupBy(col("n"), col("mu"), col("denom"))
        .agg(sum((col("y") - col("mu")) * (col("y1") - col("mu")))
            .as("n1"),
          sum((col("y") - col("mu")) * (col("y2") - col("mu"))).as("n2"))
        .select(col("n"), col("mu"), (col("n1") / col("denom")).as("r1"),
          (col("n2") / col("denom")).as("r2"))
        .select(col("n"), col("mu"), col("r1"), col("r2"),
          (col("r1") * (lit(1.0) - col("r2")) /
            (lit(1.0) - col("r1") * col("r1"))).as("p1"),
          ((col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1"))).as("p2"))
      val bt = tri.crossJoin(broadcast(rs))
        .select(col("y"), col("y1"),
          (col("mu") + col("p1") * (col("y1") - col("mu")) +
            col("p2") * (col("y2") - col("mu"))).as("yhat"))
        .agg(count(lit(1)).as("n_steps"),
          sqrt(avg((col("y") - col("yhat")) * (col("y") - col("yhat"))))
            .as("rmse_ar2"),
          sqrt(avg((col("y") - col("y1")) * (col("y") - col("y1"))))
            .as("rmse_naive"))
      bt.crossJoin(broadcast(rs.select(col("n"), col("p1"), col("p2"))))
        .select(col("n").cast("long").as("n_days"), col("n_steps"),
          round(col("p1"), 6).as("phi1"), round(col("p2"), 6).as("phi2"),
          round(col("rmse_ar2"), 2).as("rmse_ar2"),
          round(col("rmse_naive"), 2).as("rmse_naive"))
    }),

    "q364_holt_trend" -> ((s, dir) => {
      // Holt double-exponential smoothing over the 27-quarter revenue
      // series (alpha .3, beta .1): level+trend state folded over the
      // quarters of a ONE-row wide frame — one Recurrence of 26
      // fixed-operand steps, with the one-step absolute error
      // accumulated inside the same fold. The recurrence is inherently
      // sequential; making the frame wide makes each step pure scalar
      // arithmetic, identical on any engine.
      val qidx = expr(
        "(year(o_orderdate) - 1992) * 4 + (month(o_orderdate) - 1) div 3")
      val aggs = (0 to 26).map(k =>
        (sum(when(qidx === k,
          expr("CAST(floor(o_totalprice) AS BIGINT)")).otherwise(0L)) /
          1000.0).cast("double").as(s"y$k"))
      val wide = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
      val fit = Recurrence.overInputs(Seq("l" -> col("y0"),
          "b" -> (col("y1") - col("y0")), "sae" -> lit(0.0)),
          array((1 to 26).map(k => col(s"y$k")): _*)) { (st, y) =>
        val pred = st("l") + st("b")
        val l2 = lit(0.3) * y + lit(0.7) * pred
        Seq(l2, lit(0.1) * (l2 - st("l")) + lit(0.9) * st("b"),
          st("sae") + abs(y - pred))
      }
      wide.select(fit.as("f")).select(lit(27L).as("n_quarters"),
        round(col("f.l"), 2).as("level_kusd"),
        round(col("f.b"), 2).as("trend_kusd"),
        round(col("f.l") + col("f.b"), 2).as("forecast_kusd"),
        round(col("f.sae") / 26.0, 2).as("mae_kusd"))
    }),

    "q365_pacf" -> ((s, dir) => {
      // Partial autocorrelation at lags 1..5 of the daily engagement
      // series via the Durbin-Levinson recursion — the AR-order
      // selector q175's raw ACF can't provide (ACF of an AR(1) decays
      // forever; PACF cuts off). The recursion runs unrolled on a
      // ONE-row frame of r1..r5 — five bounded steps of scalar
      // arithmetic after one shifted-index aggregate.
      import s.implicits._
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("y"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
        .select(col("i"), col("y"))
      val st = idx.agg(count(lit(1)).cast("double").as("n"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
        .select((col("sy") / col("n")).as("mu"),
          (col("syy") - col("sy") * col("sy") / col("n")).as("denom"))
      val shifted = idx.crossJoin(broadcast((1 to 5).toDF("lag")))
        .select(col("lag"), (col("i") + col("lag")).as("i"),
          col("y").as("y_lag"))
      val rw = idx.join(shifted, Seq("i"))
        .crossJoin(broadcast(st))
        .groupBy(col("lag"), col("denom"), col("mu"))
        .agg(sum((col("y") - col("mu")) * (col("y_lag") - col("mu")))
          .as("num"))
        .select(col("lag"), (col("num") / col("denom")).as("r"))
      val rexprs = (1 to 5).map(k =>
        max(when(col("lag") === k, col("r"))).as(s"r$k"))
      val rrow = rw.agg(rexprs.head, rexprs.tail: _*)
      val s2 = rrow.select(col("r1"), col("r2"), col("r3"), col("r4"),
        col("r5"), col("r1").as("p11"))
      val s3 = s2.select(col("*"),
          ((col("r2") - col("p11") * col("r1")) /
            (lit(1.0) - col("p11") * col("r1"))).as("p22"))
        .select(col("*"),
          (col("p11") - col("p22") * col("p11")).as("p21"))
      val s4 = s3.select(col("*"),
          ((col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
            (lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2")))
            .as("p33"))
        .select(col("*"),
          (col("p21") - col("p33") * col("p22")).as("p31"),
          (col("p22") - col("p33") * col("p21")).as("p32"))
      val s5 = s4.select(col("*"),
          ((col("r4") - col("p31") * col("r3") - col("p32") * col("r2") -
            col("p33") * col("r1")) /
            (lit(1.0) - col("p31") * col("r1") - col("p32") * col("r2") -
              col("p33") * col("r3"))).as("p44"))
        .select(col("*"),
          (col("p31") - col("p44") * col("p33")).as("p41"),
          (col("p32") - col("p44") * col("p32")).as("p42"),
          (col("p33") - col("p44") * col("p31")).as("p43"))
      val s6 = s5.select(col("*"),
        ((col("r5") - col("p41") * col("r4") - col("p42") * col("r3") -
          col("p43") * col("r2") - col("p44") * col("r1")) /
          (lit(1.0) - col("p41") * col("r1") - col("p42") * col("r2") -
            col("p43") * col("r3") - col("p44") * col("r4"))).as("p55"))
      s6.select(round(col("p11"), 6).as("pacf_1"),
        round(col("p22"), 6).as("pacf_2"),
        round(col("p33"), 6).as("pacf_3"),
        round(col("p44"), 6).as("pacf_4"),
        round(col("p55"), 6).as("pacf_5"))
    }),

    "q366_permutation_entropy" -> ((s, dir) => {
      // Permutation entropy (order-3 ordinal patterns) of daily
      // revenue: complexity of the series' SHAPE, blind to amplitude —
      // regular seasonality scores low, noise scores ~1. Patterns are
      // 3-bit comparison codes over exact integer cents (ties resolve
      // identically on any engine); entropy normalized by ln 6.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("c"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
        .select(col("i"), col("c"))
      val tri = idx
        .join(idx.select((col("i") - 1).as("i"), col("c").as("c1")),
          Seq("i"))
        .join(idx.select((col("i") - 2).as("i"), col("c").as("c2")),
          Seq("i"))
      val coded = tri.select(
        (when(col("c1") > col("c"), 4).otherwise(0) +
         when(col("c2") > col("c"), 2).otherwise(0) +
         when(col("c2") > col("c1"), 1).otherwise(0)).cast("long")
          .as("code"))
      val cnt = coded.groupBy(col("code")).agg(count(lit(1)).as("k"))
      val tot = cnt.agg(sum(col("k")).as("n"),
        count(lit(1)).as("n_patterns"))
      val ent = cnt.crossJoin(broadcast(tot))
        .select(col("n"), col("n_patterns"), col("code"), col("k"),
          (col("k").cast("double") / col("n")).as("p"))
      val top = ent.orderBy(col("k").desc, col("code")).limit(1)
        .select(col("code").as("top_code"),
          round(col("p"), 4).as("top_share"))
      ent.groupBy(col("n"), col("n_patterns"))
        .agg((-sum(col("p") * log(col("p"))) / math.log(6.0))
          .as("h"))
        .crossJoin(broadcast(top))
        .select(col("n").as("n_triples"), col("n_patterns"),
          round(col("h"), 6).as("h_norm"), col("top_code"),
          col("top_share"))
    }),

    "q367_silhouette" -> ((s, dir) => {
      // Centroid (simplified) silhouette of the embedding corpus
      // against its LABELS-as-clusters: a = distance to own centroid,
      // b = nearest other centroid — the label-quality audit for the
      // q247 drift/q76 semantic-dedup cell machinery. The vector x
      // centroid scoring is one (dim)-keyed join that partial-aggs
      // straight back to (vector, label) — the |corpus| x |labels|
      // distance table never carries vectors, only scalars.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos").as("i"),
          col("col").cast("double").as("v"))
      val cent = e.groupBy(col("label").as("cl"), col("i"))
        .agg(avg(col("v")).as("c"))
      val d2 = e.join(broadcast(cent), Seq("i"))
        .groupBy(col("vec_id"), col("label"), col("cl"))
        .agg(sum((col("v") - col("c")) * (col("v") - col("c")))
          .as("dd"))
      val ab = d2.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("label") === col("cl"), sqrt(col("dd"))))
            .as("a"),
          min(when(col("label") =!= col("cl"), sqrt(col("dd"))))
            .as("b"))
      ab.select(col("label"),
          ((col("b") - col("a")) / greatest(col("a"), col("b")))
            .as("sil"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("sil")), 4).as("mean_sil"))
        .orderBy(col("label"))
    }),

    "q368_davies_bouldin" -> ((s, dir) => {
      // Davies-Bouldin index over the same label clusters: scatter
      // S_i (mean member-to-centroid distance) vs centroid separation
      // M_ij; DB = mean over clusters of the worst (S_i+S_j)/M_ij.
      // Everything after the two centroid passes runs on the bounded
      // 10x10 label grid.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos").as("i"),
          col("col").cast("double").as("v"))
      val cent = e.groupBy(col("label"), col("i"))
        .agg(avg(col("v")).as("c"))
      val scat = e.join(broadcast(cent), Seq("label", "i"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sqrt(sum((col("v") - col("c")) * (col("v") - col("c"))))
          .as("d"))
        .groupBy(col("label"))
        .agg(avg(col("d")).as("sc"))
      val cd = cent.as("x").join(cent.as("y"),
          col("x.i") === col("y.i") && col("x.label") =!= col("y.label"))
        .groupBy(col("x.label").as("la"), col("y.label").as("lb"))
        .agg(sqrt(sum((col("x.c") - col("y.c")) *
          (col("x.c") - col("y.c")))).as("m"))
      val rij = cd
        .join(broadcast(scat.select(col("label").as("la"),
          col("sc").as("sa"))), Seq("la"))
        .join(broadcast(scat.select(col("label").as("lb"),
          col("sc").as("sb"))), Seq("lb"))
        .select(col("la"), col("lb"),
          ((col("sa") + col("sb")) / col("m")).as("r"))
      val worst = rij.groupBy(col("la")).agg(max(col("r")).as("rmax"))
      val top = rij.orderBy(round(col("r"), 6).desc, col("la"),
          col("lb")).limit(1)
        .select(col("la").as("worst_a"), col("lb").as("worst_b"))
      worst.agg(count(lit(1)).as("n_labels"),
          round(avg(col("rmax")), 4).as("db_index"))
        .crossJoin(broadcast(top))
    }),

    "q369_eoq_safety_stock" -> ((s, dir) => {
      // Inventory policy per brand: EOQ from annual demand (sqrt
      // formula), safety stock and reorder point from ZERO-FILLED
      // weekly demand variability at a 2-week lead time (skipping the
      // zero weeks would understate sigma exactly for the slow movers
      // that need it most). Exact integer quantity sums; the week grid
      // is calendar-bounded so the fill join is grid-sized.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          (datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
            .cast("long") / lit(7L)).cast("long").as("wk"),
          col("l_quantity").cast("long").as("q"))
      val wkq = li.groupBy(col("brand"), col("wk"))
        .agg(sum(col("q")).as("wq"))
      val grid = li.select(col("wk")).distinct()
        .crossJoin(li.select(col("brand")).distinct())
      val filled = grid.join(wkq, Seq("brand", "wk"), "left")
        .withColumn("wq", coalesce(col("wq"), lit(0L)))
      val st = filled.groupBy(col("brand"))
        .agg(count(lit(1)).as("nw"), sum(col("wq")).as("s1"),
          sum(col("wq") * col("wq")).as("s2"))
        .select(col("brand"), col("nw"),
          (col("s1").cast("double") / col("nw")).as("mw"),
          sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("nw")) /
            (col("nw") - 1)).as("sdw"),
          (col("s1").cast("double") * 52.0 / col("nw")).as("d_annual"))
      st.select(col("brand"), col("nw").as("n_weeks"),
          round(col("d_annual"), 1).as("d_annual"),
          round(sqrt(lit(2.0) * col("d_annual") * 100.0 / 2.0), 2)
            .as("eoq"),
          round(lit(1.6448536269514722) * col("sdw") *
            sqrt(lit(2.0)), 2).as("safety_stock"),
          round(col("mw") * 2.0 + lit(1.6448536269514722) * col("sdw") *
            sqrt(lit(2.0)), 2).as("reorder_point"))
        .orderBy(col("brand"))
    }),

    "q370_bass_diffusion" -> ((s, dir) => {
      // Bass diffusion fit on weekly customer adoption (first-order
      // week): the discrete-OLS estimation n(t) = a + b N(t-1) +
      // c N(t-1)^2, solved in closed form via Cramer on the 3x3 normal
      // equations. Moment sums run in DECIMAL(38,0) — N^4-scale terms
      // overflow BIGINT and would drift as doubles; decimals keep both
      // engines bit-identical until the one cast before the solve.
      // Innovation p, imitation q and market size m come from the
      // quadratic's roots (guarded: reported only when c < 0).
      val firsts = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min((datediff(to_date(col("o_orderdate")),
          lit("1992-01-01")).cast("long") / lit(7L)).cast("long"))
          .as("wk"))
      val adopt = firsts.groupBy(col("wk"))
        .agg(count(lit(1)).as("nt"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        adopt.withColumn("__g", lit(1)), "__g", "wk", col("nt"), "cumn")
        .select(col("wk"), col("nt"), (col("cumn") - col("nt")).as("nprev"))
      val d = "decimal(18,0)"
      val mo = cum.agg(count(lit(1)).as("nw"),
          sum(col("nprev").cast(d)).as("sx"),
          sum((col("nprev") * col("nprev")).cast(d)).as("sx2"),
          sum((col("nprev") * col("nprev")).cast(d) *
            col("nprev").cast(d)).as("sx3"),
          sum((col("nprev") * col("nprev")).cast(d) *
            (col("nprev") * col("nprev")).cast(d)).as("sx4"),
          sum(col("nt").cast(d)).as("sy"),
          sum((col("nt") * col("nprev")).cast(d)).as("sxy"),
          sum((col("nt") * col("nprev")).cast(d) * col("nprev").cast(d))
            .as("sx2y"))
      // Cramer on [[n,sx,sx2],[sx,sx2,sx3],[sx2,sx3,sx4]] [a b c]' =
      // [sy, sxy, sx2y]' — all doubles from identical decimal inputs
      val sol = mo.select(col("nw"),
          col("nw").cast("double").as("m00"),
          col("sx").cast("double").as("m01"),
          col("sx2").cast("double").as("m02"),
          col("sx3").cast("double").as("m13"),
          col("sx4").cast("double").as("m23"),
          col("sy").cast("double").as("b0"),
          col("sxy").cast("double").as("b1"),
          col("sx2y").cast("double").as("b2"))
      def det3(a11: Column, a12: Column, a13: Column,
               a21: Column, a22: Column, a23: Column,
               a31: Column, a32: Column, a33: Column): Column =
        a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
          a13 * (a21 * a32 - a22 * a31)
      val (m00, m01, m02) = (col("m00"), col("m01"), col("m02"))
      val (m13, m23) = (col("m13"), col("m23"))
      val (b0, b1, b2) = (col("b0"), col("b1"), col("b2"))
      val dd = det3(m00, m01, m02, m01, m02, m13, m02, m13, m23)
      val da = det3(b0, m01, m02, b1, m02, m13, b2, m13, m23)
      val db = det3(m00, b0, m02, m01, b1, m13, m02, b2, m23)
      val dc = det3(m00, m01, b0, m01, m02, b1, m02, m13, b2)
      val abc = sol.select(col("nw").as("n_weeks"),
        (da / dd).as("a"), (db / dd).as("b"), (dc / dd).as("c"))
      abc.select(col("n_weeks"), round(col("a"), 4).as("a"),
        round(col("b"), 6).as("b"), round(col("c"), 8).as("c"),
        when(col("c") < 0, round((-col("b") -
          sqrt(col("b") * col("b") - lit(4.0) * col("a") * col("c"))) /
          (lit(2.0) * col("c")), 1)).as("m_est"),
        when(col("c") < 0, round(col("a") / ((-col("b") -
          sqrt(col("b") * col("b") - lit(4.0) * col("a") * col("c"))) /
          (lit(2.0) * col("c"))), 6)).as("p_innov"),
        when(col("c") < 0, round(-col("c") * ((-col("b") -
          sqrt(col("b") * col("b") - lit(4.0) * col("a") * col("c"))) /
          (lit(2.0) * col("c"))), 6)).as("q_imit"))
    }),

    "q371_page_trend" -> ((s, dir) => {
      // Page's L trend test on the q342 nation x segment block design,
      // with treatments in the a-priori ALPHABETICAL segment order —
      // the ordered-alternative Friedman (what Jonckheere q358 is to
      // Kruskal-Wallis q319). Within-block tied average ranks stay
      // integer as ar2 = 2*rank; L2 = 2L = sum j*ar2 is exact; the
      // no-tie normal approximation is used knowingly (ties are rare
      // on cent-level cell sums, and both engines compute identically).
      val segs = t(s, dir, "customer").select(col("c_mktsegment"))
        .distinct().select(col("c_mktsegment").as("seg"))
      val segIdx = graft.ops.PrefixSum.globalRank(
        segs, Seq(col("seg")), "j")
      val grid = t(s, dir, "nation")
        .select(col("n_nationkey").as("nk")).crossJoin(broadcast(segs))
      val sums = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(sum(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
          .as("sv"))
      val cells = grid.join(sums, Seq("nk", "seg"), "left")
        .select(col("nk"), col("seg"), coalesce(col("sv"), lit(0L))
          .as("v"))
      val ranked = cells.as("a")
        .join(cells.as("b"), col("a.nk") === col("b.nk"))
        .groupBy(col("a.nk").as("nk"), col("a.seg").as("seg"))
        .agg((lit(2L) * sum(when(col("b.v") < col("a.v"), 1L)
          .otherwise(0L)) +
          sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L)) + 1L)
          .as("ar2"))
      val l2 = ranked.join(broadcast(segIdx), Seq("seg"))
        .agg(sum(col("j") * col("ar2")).as("l2"))
      val bk = cells.agg(countDistinct(col("nk")).as("b"),
        countDistinct(col("seg")).as("k"))
      l2.crossJoin(broadcast(bk))
        .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
          col("l2"),
          ((col("l2") - col("b").cast("double") * col("k") *
            (col("k") + 1) * (col("k") + 1) / 2) /
            sqrt(col("b").cast("double") * col("k") * col("k") *
              (col("k") + 1) * (col("k") + 1) * (col("k") - 1) / 36))
            .as("zr"))
        .select(col("n_blocks"), col("k_treatments"), col("l2"),
          round(col("zr"), 4).as("z"),
          when(col("zr") > 1.645, "upward_trend")
            .when(col("zr") < -1.645, "downward_trend")
            .otherwise("no_trend").as("verdict"))
    }),

    "q372_ansari_bradley" -> ((s, dir) => {
      // Ansari-Bradley dispersion test: did order-value SPREAD change
      // from 1995 to 1996 (same location family as Mann-Whitney q278
      // tests, but scoring extremeness a_i = min(rk, n+1-rk) instead
      // of position)? Pooled exact ranks via the two-phase ranker;
      // the AB statistic is an exact integer score sum; parity-split
      // closed-form moments (even/odd n differ).
      val base = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L)
          .as("ga"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
          col("o_orderkey").as("ok"))
      val ranked = graft.ops.PrefixSum.globalRank(
        base, Seq(col("v"), col("ok")), "rk")
      val nn = base.agg(count(lit(1)).as("n"), sum(col("ga")).as("na"))
      val ab = ranked.crossJoin(broadcast(nn))
        .select(col("ga"), col("n"), col("na"),
          least(col("rk"), col("n") + 1 - col("rk")).as("sc"))
        .groupBy(col("n"), col("na"))
        .agg(sum(col("ga") * col("sc")).as("ab"))
        .select(col("n"), col("na"), (col("n") - col("na")).as("nb"),
          col("ab"))
      ab.select(col("na").as("n_1995"), col("nb").as("n_1996"),
          col("ab").as("ab_stat"),
          when(pmod(col("n"), lit(2L)) === 0,
            (col("ab") - col("na").cast("double") * (col("n") + 2) / 4) /
            sqrt(col("na").cast("double") * col("nb") * (col("n") + 2) *
              (col("n") - 2) / (lit(48.0) * (col("n") - 1))))
          .otherwise(
            (col("ab") - col("na").cast("double") * (col("n") + 1) *
              (col("n") + 1) / (lit(4.0) * col("n"))) /
            sqrt(col("na").cast("double") * col("nb") * (col("n") + 1) *
              (lit(3.0) + col("n").cast("double") * col("n")) /
              (lit(48.0) * col("n").cast("double") * col("n"))))
            .as("zr"))
        .select(col("n_1995"), col("n_1996"), col("ab_stat"),
          round(col("zr"), 4).as("z"),
          when(col("zr") > 1.96, "less_dispersed_1995")
            .when(col("zr") < -1.96, "more_dispersed_1995")
            .otherwise("no_change").as("verdict"))
    }),

    "q373_chow_test" -> ((s, dir) => {
      // Chow structural-break F on the daily-revenue time trend at
      // 1995-01-01: fit OLS on each side and pooled, compare SSRs —
      // "did the line itself change" (q176's CUSUM locates a level
      // shift; this tests slope+intercept jointly at a KNOWN break).
      // df1=2 makes the F survival exact: (1 + 2F/m)^(-m/2). t is the
      // plain epoch-day (no ranking pass needed); y in dollars keeps
      // double sums conditioned.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(floor(col("o_totalprice") * 100 + 0.5)) / 100.0)
          .cast("double").as("y"))
        .select(datediff(col("day"), lit("1992-01-01")).cast("double")
          .as("tt"), col("y"),
          when(col("day") < "1995-01-01", 1L).otherwise(2L).as("seg"))
      def ssr(grouped: DataFrame): DataFrame = grouped
        .select(col("g"), col("n"),
          (col("syy") - col("sy") * col("sy") / col("n") -
            (col("sty") - col("st") * col("sy") / col("n")) *
            (col("sty") - col("st") * col("sy") / col("n")) /
            (col("stt") - col("st") * col("st") / col("n"))).as("ssr"))
      val parts = ssr(daily.groupBy(col("seg").as("g"))
        .agg(count(lit(1)).cast("double").as("n"), sum(col("tt")).as("st"),
          sum(col("tt") * col("tt")).as("stt"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("tt") * col("y")).as("sty")))
      val pooled = ssr(daily.withColumn("g", lit(0L)).groupBy(col("g"))
        .agg(count(lit(1)).cast("double").as("n"), sum(col("tt")).as("st"),
          sum(col("tt") * col("tt")).as("stt"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("tt") * col("y")).as("sty")))
      val agg = parts.agg(sum(col("ssr")).as("ssr12"),
        sum(col("n")).as("n"))
      agg.crossJoin(broadcast(pooled.select(col("ssr").as("ssrp"))))
        .select(col("n").cast("long").as("n_days"),
          round(col("ssrp") / 1e6, 2).as("ssr_pooled_m"),
          round(col("ssr12") / 1e6, 2).as("ssr_split_m"),
          (((col("ssrp") - col("ssr12")) / 2) /
            (col("ssr12") / (col("n") - 4))).as("f"))
        .select(col("n_days"), col("ssr_pooled_m"), col("ssr_split_m"),
          round(col("f"), 4).as("chow_f"),
          round(pow(lit(1.0) + lit(2) * col("f") /
            (col("n_days").cast("double") - 4),
            -(col("n_days").cast("double") - 4) / 2), 6).as("p_value"))
    }),

    "q374_breusch_pagan" -> ((s, dir) => {
      // Breusch-Pagan heteroskedasticity test on the daily-revenue
      // trend residuals (regress e^2 on t, LM = n R^2): does variance
      // itself drift over time — the assumption q323's Durbin-Watson
      // and every OLS standard error lean on. Two passes: moments,
      // then residual moments against t; chi2 df=1 survival via the
      // A&S erf polynomial.
      val daily = dailyRevenueTrend(s, dir)
      val mo = daily.agg(count(lit(1)).cast("double").as("n"),
          sum(col("tt")).as("st"), sum(col("tt") * col("tt")).as("stt"),
          sum(col("y")).as("sy"), sum(col("tt") * col("y")).as("sty"))
        .select(col("n"),
          ((col("sty") - col("st") * col("sy") / col("n")) /
            (col("stt") - col("st") * col("st") / col("n"))).as("beta"),
          col("st"), col("sy"))
        .select(col("n"), col("beta"),
          ((col("sy") - col("beta") * col("st")) / col("n")).as("alpha"))
      val res = daily.crossJoin(broadcast(mo))
        .select(col("tt"),
          (col("y") - col("alpha") - col("beta") * col("tt")).as("e"))
        .select(col("tt"), (col("e") * col("e")).as("u"))
      val lm = res.agg(count(lit(1)).cast("double").as("n"),
          sum(col("tt")).as("st"), sum(col("tt") * col("tt")).as("stt"),
          sum(col("u")).as("su"), sum(col("u") * col("u")).as("suu"),
          sum(col("tt") * col("u")).as("stu"))
        .select(col("n"),
          ((col("stu") - col("st") * col("su") / col("n")) *
            (col("stu") - col("st") * col("su") / col("n")) /
            ((col("stt") - col("st") * col("st") / col("n")) *
             (col("suu") - col("su") * col("su") / col("n"))))
            .as("r2"))
        .select(col("n"), (col("n") * col("r2")).as("lm"))
      val xs = sqrt(col("lm")) / math.sqrt(2.0)
      val ts = lit(1.0) / (lit(1.0) + lit(0.3275911) * xs)
      lm.select(col("n").cast("long").as("n_days"),
        round(col("lm"), 4).as("lm_stat"),
        round((lit(0.254829592) * ts - lit(0.284496736) * ts * ts +
          lit(1.421413741) * ts * ts * ts - lit(1.453152027) *
          ts * ts * ts * ts + lit(1.061405429) * ts * ts * ts * ts * ts) *
          exp(-xs * xs), 6).as("p_value"))
    }),

    "q375_jarque_bera" -> ((s, dir) => {
      // Jarque-Bera normality on the same trend residuals: skewness +
      // excess kurtosis jointly, chi2 df=2 survival EXACTLY exp(-x/2)
      // — the moment-based cross-check on q362's ECDF-based
      // Lilliefors (they reject for different shapes of
      // non-normality).
      val daily = dailyRevenueTrend(s, dir)
      val mo = daily.agg(count(lit(1)).cast("double").as("n"),
          sum(col("tt")).as("st"), sum(col("tt") * col("tt")).as("stt"),
          sum(col("y")).as("sy"), sum(col("tt") * col("y")).as("sty"))
        .select(col("n"),
          ((col("sty") - col("st") * col("sy") / col("n")) /
            (col("stt") - col("st") * col("st") / col("n"))).as("beta"),
          col("st"), col("sy"))
        .select(col("n"), col("beta"),
          ((col("sy") - col("beta") * col("st")) / col("n")).as("alpha"))
      val res = daily.crossJoin(broadcast(mo))
        .select((col("y") - col("alpha") - col("beta") * col("tt"))
          .as("e"))
      val jb = res.agg(count(lit(1)).cast("double").as("n"),
          sum(col("e")).as("s1"), sum(col("e") * col("e")).as("s2"),
          sum(col("e") * col("e") * col("e")).as("s3"),
          sum(col("e") * col("e") * col("e") * col("e")).as("s4"))
        .select(col("n"), (col("s2") / col("n")).as("v2"),
          (col("s3") / col("n")).as("m3"), (col("s4") / col("n")).as("m4"))
        .select(col("n"),
          (col("m3") / pow(col("v2"), 1.5)).as("g1"),
          (col("m4") / (col("v2") * col("v2")) - 3).as("g2"))
        .select(col("n"), col("g1"), col("g2"),
          (col("n") / 6 * (col("g1") * col("g1") +
            col("g2") * col("g2") / 4)).as("jb"))
      jb.select(col("n").cast("long").as("n_days"),
        round(col("g1"), 4).as("skew"),
        round(col("g2"), 4).as("ex_kurt"),
        round(col("jb"), 4).as("jb_stat"),
        round(exp(-col("jb") / 2), 6).as("p_value"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q301_conformal" ->
      """WITH seg AS (SELECT o_orderkey, c_mktsegment AS sg,
        |    o_orderkey % 2 = 0 AS cal,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |model AS (SELECT sg,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS m
        |  FROM seg WHERE cal GROUP BY 1),
        |resid AS (SELECT o_orderkey, cal, abs(cents - m) AS r
        |  FROM seg JOIN model USING (sg)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM resid
        |  WHERE cal),
        |qhat AS (SELECT n_cal, r AS qhat FROM (
        |    SELECT r, CAST(row_number() OVER (ORDER BY r, o_orderkey)
        |      AS BIGINT) AS rk
        |    FROM resid WHERE cal) CROSS JOIN nc
        |  WHERE rk = (9 * (n_cal + 1) + 9) // 10)
        |SELECT any_value(n_cal) AS n_cal,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  round(any_value(qhat), 2) AS qhat_cents,
        |  round(avg(CASE WHEN r <= qhat THEN 1.0 ELSE 0.0 END), 4)
        |    AS coverage
        |FROM resid CROSS JOIN qhat WHERE NOT cal""".stripMargin,

    "q302_wasserstein" ->
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
        |cum AS (SELECT v,
        |    CAST(sum(ca) OVER w AS BIGINT) AS cca,
        |    CAST(sum(cb) OVER w AS BIGINT) AS ccb,
        |    lead(v) OVER (ORDER BY v) AS vn
        |  FROM byval WINDOW w AS (ORDER BY v)),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM byval)
        |SELECT na AS n_a, nb AS n_b,
        |  round(CAST(sum(abs(cca * nb - ccb * na) * (vn - v)) AS DOUBLE)
        |    / (na * nb) / 100.0, 4) AS w1_dollars
        |FROM cum CROSS JOIN tot WHERE vn IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q303_term_burstiness" ->
      s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS d
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest($ntoksSql) AS term
        |  FROM documents),
        |perdoc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |terms AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf,
        |    CAST(count(*) AS BIGINT) AS df
        |  FROM perdoc GROUP BY 1),
        |ranked AS (SELECT *, CAST(row_number()
        |      OVER (ORDER BY cf DESC, term) AS BIGINT) AS rank
        |  FROM terms)
        |SELECT rank, term, cf, df,
        |  round(CAST(cf AS DOUBLE) / df, 4) AS adaptation,
        |  round(d * (1.0 - exp(-(CAST(cf AS DOUBLE) / d))), 2)
        |    AS df_pred,
        |  round(d * (1.0 - exp(-(CAST(cf AS DOUBLE) / d))) / df, 4)
        |    AS burstiness
        |FROM ranked CROSS JOIN nd WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "q304_circular_stats" ->
      """WITH ev AS (SELECT event_type,
        |    2 * pi() * ((epoch_us(ts) // 60000000) % 1440) / 1440.0
        |      AS theta
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(cos(theta)) AS c, sum(sin(theta)) AS ss
        |  FROM ev GROUP BY 1),
        |rr AS (SELECT event_type, n,
        |    sqrt(c * c + ss * ss) / n AS r, atan2(ss, c) AS ang
        |  FROM g)
        |SELECT event_type, n, round(r, 6) AS resultant_r,
        |  round((CASE WHEN ang < 0 THEN ang + 2 * pi() ELSE ang END) *
        |    (24.0 / (2 * pi())), 4) AS mean_hour,
        |  round(n * r * r, 4) AS rayleigh_z,
        |  round(exp(-(n * r * r)), 6) AS p_uniform
        |FROM rr ORDER BY 1""".stripMargin,

    "q305_twfe" ->
      """WITH panel AS (SELECT p_brand, year(l_shipdate) AS yr,
        |    ln(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE)) AS y,
        |    ln(CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
        |      AS DOUBLE)) AS x
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |g AS (SELECT avg(y) AS gy, avg(x) AS gx,
        |    CAST(count(*) AS BIGINT) AS n_cells FROM panel),
        |dm AS (SELECT n_cells,
        |    y - avg(y) OVER (PARTITION BY p_brand) -
        |      avg(y) OVER (PARTITION BY yr) + gy AS yt,
        |    x - avg(x) OVER (PARTITION BY p_brand) -
        |      avg(x) OVER (PARTITION BY yr) + gx AS xt
        |  FROM panel CROSS JOIN g)
        |SELECT n_cells, round(sum(xt * yt) / sum(xt * xt), 6)
        |    AS twfe_slope,
        |  round(sum(xt * yt) * sum(xt * yt) /
        |    (sum(xt * xt) * sum(yt * yt)), 6) AS within_r2
        |FROM dm GROUP BY 1""".stripMargin,

    "q306_root_cause" ->
      """WITH geo AS (SELECT c_mktsegment AS seg, r_name AS reg,
        |    month(o_orderdate) = 7 AS before,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'),
        |stacked AS (SELECT 'segment' AS dimension, seg AS value,
        |    before, cents FROM geo
        |  UNION ALL SELECT 'region', reg, before, cents FROM geo),
        |cells AS (SELECT dimension, value,
        |    CAST(sum(CASE WHEN before THEN cents ELSE 0 END) AS BIGINT)
        |      AS f,
        |    CAST(sum(CASE WHEN NOT before THEN cents ELSE 0 END)
        |      AS BIGINT) AS a
        |  FROM stacked GROUP BY 1, 2),
        |tt AS (SELECT *, CAST(sum(f) OVER (PARTITION BY dimension)
        |      AS BIGINT) AS tf,
        |    CAST(sum(a) OVER (PARTITION BY dimension) AS BIGINT) AS ta
        |  FROM cells)
        |SELECT dimension, value, f AS f_cents, a AS a_cents,
        |  round(CAST(a - f AS DOUBLE) / (ta - tf), 4)
        |    AS explanatory_power,
        |  round((CASE WHEN f = 0 THEN 0.0 ELSE
        |      CAST(f AS DOUBLE) / tf *
        |      ln(2.0 * (CAST(f AS DOUBLE) / tf) /
        |        (CAST(f AS DOUBLE) / tf + CAST(a AS DOUBLE) / ta)) END +
        |    CASE WHEN a = 0 THEN 0.0 ELSE
        |      CAST(a AS DOUBLE) / ta *
        |      ln(2.0 * (CAST(a AS DOUBLE) / ta) /
        |        (CAST(f AS DOUBLE) / tf + CAST(a AS DOUBLE) / ta)) END) *
        |    0.5, 6) AS js_surprise
        |FROM tt ORDER BY 1, 2""".stripMargin,

    "q307_gravity_model" ->
      """WITH flows AS (SELECT c_nationkey AS cn, s_nationkey AS sn,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |cells AS (SELECT ln(CAST(cents AS DOUBLE)) AS y,
        |    ln(CAST(sum(cents) OVER (PARTITION BY cn) AS DOUBLE)) AS x1,
        |    ln(CAST(sum(cents) OVER (PARTITION BY sn) AS DOUBLE)) AS x2
        |  FROM flows),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS my,
        |    avg(x1) AS m1, avg(x2) AS m2,
        |    sum(x1 * x1) / count(*) AS e11,
        |    sum(x2 * x2) / count(*) AS e22,
        |    sum(x1 * x2) / count(*) AS e12,
        |    sum(x1 * y) / count(*) AS e1y,
        |    sum(x2 * y) / count(*) AS e2y
        |  FROM cells),
        |c AS (SELECT n, my, m1, m2, e11 - m1 * m1 AS c11,
        |    e22 - m2 * m2 AS c22, e12 - m1 * m2 AS c12,
        |    e1y - m1 * my AS c1y, e2y - m2 * my AS c2y
        |  FROM mom),
        |sol AS (SELECT n, my, m1, m2,
        |    (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
        |    (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c)
        |SELECT n AS n_cells, round(b1, 6) AS beta_origin,
        |  round(b2, 6) AS beta_dest,
        |  round(my - b1 * m1 - b2 * m2, 4) AS intercept
        |FROM sol""".stripMargin,

    "q308_chain_ladder" ->
      """WITH base AS (SELECT
        |    year(o_orderdate) * 12 + month(o_orderdate) AS coh,
        |    year(l_shipdate) * 12 + month(l_shipdate) -
        |      year(o_orderdate) * 12 - month(o_orderdate) AS dev,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |clip AS (SELECT CAST(coh AS BIGINT) AS coh,
        |    CAST(dev AS BIGINT) AS dev, cents FROM base
        |  WHERE dev BETWEEN 0 AND 6),
        |tri AS (SELECT coh, dev, CAST(sum(cents) AS BIGINT) AS x
        |  FROM clip GROUP BY 1, 2),
        |mx AS (SELECT CAST(max(coh + dev) AS BIGINT) AS mcal FROM clip),
        |cum AS (SELECT coh, dev, CAST(sum(x) OVER (PARTITION BY coh
        |      ORDER BY dev ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM tri),
        |fac AS (SELECT a.dev, CAST(count(*) AS BIGINT) AS n_cohorts,
        |    CAST(sum(a.c) AS BIGINT) AS sc,
        |    CAST(sum(b.c) AS BIGINT) AS sn
        |  FROM cum a JOIN cum b ON a.coh = b.coh AND b.dev = a.dev + 1
        |  CROSS JOIN mx WHERE a.coh + a.dev + 1 <= mcal
        |  GROUP BY 1),
        |ff AS (SELECT dev, n_cohorts,
        |    CAST(sn AS DOUBLE) / sc AS f FROM fac)
        |SELECT dev AS dev_month, n_cohorts, round(f, 6) AS link_factor,
        |  round(exp(sum(ln(f)) OVER (ORDER BY dev DESC
        |    ROWS UNBOUNDED PRECEDING)), 6) AS to_ultimate
        |FROM ff ORDER BY 1""".stripMargin,

    "q309_rake_keywords" ->
      s"""WITH norm AS (SELECT doc_id, $ntoksSql AS ntoks
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(ntoks) AS tok,
        |    CAST(generate_subscripts(ntoks, 1) AS BIGINT) AS pos
        |  FROM norm),
        |marked AS (SELECT *, tok IN ('the', 'a', 'an', 'and', 'or',
        |    'of', 'to', 'in', 'is', 'on', 'for', 'with', 'as', 'by',
        |    'at', 'it', 'this', 'that', 'be', 'are', 'was', 'from')
        |    AS is_stop
        |  FROM toks),
        |runs AS (SELECT *, CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0
        |      END) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM marked),
        |words AS (SELECT doc_id, pos, tok, run FROM runs
        |  WHERE NOT is_stop),
        |wl AS (SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, run)
        |      AS BIGINT) AS plen
        |  FROM words),
        |ws AS (SELECT tok, CAST(sum(plen) AS DOUBLE) / count(*) AS ws
        |  FROM wl GROUP BY 1),
        |ph AS (SELECT doc_id, run,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    round(sum(ws), 4) AS score_r
        |  FROM wl JOIN ws USING (tok) GROUP BY 1, 2)
        |SELECT rank, phrase, doc_id, n_words, score_r AS score
        |FROM (SELECT *, CAST(row_number() OVER (ORDER BY score_r DESC,
        |    phrase, doc_id, run) AS BIGINT) AS rank FROM ph)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q310_control_chart" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |d0 AS (SELECT min(day) AS dmin FROM daily),
        |weeks AS (SELECT datediff('day', dmin, day) // 7 AS wk,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(cents) AS BIGINT) AS tot,
        |    CAST(max(cents) - min(cents) AS BIGINT) AS r
        |  FROM daily CROSS JOIN d0 GROUP BY 1 HAVING count(*) = 7),
        |lims AS (SELECT CAST(count(*) AS BIGINT) AS n_weeks,
        |    CAST(sum(tot) AS DOUBLE) / (count(*) * 7) AS xbb,
        |    CAST(sum(r) AS DOUBLE) / count(*) AS rbar
        |  FROM weeks),
        |l2 AS (SELECT n_weeks, xbb, rbar, xbb + 0.419 * rbar AS ucl,
        |    xbb - 0.419 * rbar AS lcl, 1.924 * rbar AS ucl_r FROM lims)
        |SELECT any_value(n_weeks) AS n_weeks,
        |  round(any_value(xbb) / 100, 2) AS center_daily,
        |  round(any_value(ucl) / 100, 2) AS ucl_daily,
        |  round(any_value(lcl) / 100, 2) AS lcl_daily,
        |  CAST(sum(CASE WHEN CAST(tot AS DOUBLE) > 7.0 * ucl THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(sum(CASE WHEN CAST(tot AS DOUBLE) < 7.0 * lcl THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN CAST(r AS DOUBLE) > ucl_r THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_range_viol
        |FROM weeks CROSS JOIN l2""".stripMargin,

    "q311_fairness_audit" ->
      """WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |geo AS (SELECT c_custkey, r_name,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM geo),
        |med AS (SELECT x AS thr FROM (
        |    SELECT x, CAST(row_number() OVER (ORDER BY x, c_custkey)
        |      AS BIGINT) AS rk FROM geo) CROSS JOIN nt
        |  WHERE rk = n // 2),
        |base AS (SELECT r_name, x > thr AS pred,
        |    coalesce(n_ord, 0) > 5 AS pos
        |  FROM geo CROSS JOIN med
        |  LEFT JOIN y ON c_custkey = o_custkey),
        |byg AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS DOUBLE) /
        |      count(*) AS sr,
        |    CASE WHEN sum(CASE WHEN pos THEN 1 ELSE 0 END) = 0
        |      THEN NULL ELSE
        |      CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END)
        |        AS DOUBLE) /
        |      sum(CASE WHEN pos THEN 1 ELSE 0 END) END AS tpr,
        |    CASE WHEN count(*) = sum(CASE WHEN pos THEN 1 ELSE 0 END)
        |      THEN NULL ELSE
        |      CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END)
        |        AS DOUBLE) /
        |      (count(*) - sum(CASE WHEN pos THEN 1 ELSE 0 END)) END
        |      AS fpr
        |  FROM base GROUP BY 1)
        |SELECT r_name, n, round(sr, 6) AS selection_rate,
        |  round(tpr, 6) AS tpr, round(fpr, 6) AS fpr,
        |  round(max(sr) OVER () - min(sr) OVER (), 6) AS parity_gap
        |FROM byg ORDER BY 1""".stripMargin,

    "q312_mobility_matrix" ->
      """WITH yearly AS (SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |q95 AS (SELECT o_custkey, 1 + ((rk - 1) * 5) // n AS q1995
        |  FROM (SELECT o_custkey, CAST(row_number() OVER (ORDER BY
        |      cents DESC, o_custkey) AS BIGINT) AS rk
        |    FROM yearly WHERE yr = 1995)
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM yearly
        |    WHERE yr = 1995)),
        |q96 AS (SELECT o_custkey, 1 + ((rk - 1) * 5) // n AS q1996
        |  FROM (SELECT o_custkey, CAST(row_number() OVER (ORDER BY
        |      cents DESC, o_custkey) AS BIGINT) AS rk
        |    FROM yearly WHERE yr = 1996)
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM yearly
        |    WHERE yr = 1996)),
        |cells AS (SELECT q1995, q1996, CAST(count(*) AS BIGINT) AS n
        |  FROM q95 JOIN q96 USING (o_custkey) GROUP BY 1, 2),
        |sh AS (SELECT *, CAST(n AS DOUBLE) /
        |      sum(n) OVER (PARTITION BY q1995) AS share
        |  FROM cells)
        |SELECT q1995, q1996, n, round(share, 4) AS share,
        |  round((5.0 - sum(CASE WHEN q1995 = q1996 THEN share ELSE 0.0
        |    END) OVER ()) / 4, 6) AS mobility
        |FROM sh ORDER BY 1, 2""".stripMargin,

    "q313_threshold_opt" ->
      """WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |base AS (SELECT
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
        |    CASE WHEN coalesce(n_ord, 0) > 5 THEN 1 ELSE 0 END AS pos
        |  FROM customer LEFT JOIN y ON c_custkey = o_custkey),
        |byval AS (SELECT x, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(pos) AS BIGINT) AS pv
        |  FROM base GROUP BY 1),
        |cum AS (SELECT x, CAST(sum(nv) OVER w AS BIGINT) AS cn,
        |    CAST(sum(pv) OVER w AS BIGINT) AS cp
        |  FROM byval WINDOW w AS (ORDER BY x)),
        |tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n,
        |    CAST(sum(pv) AS BIGINT) AS p FROM byval),
        |pts AS (SELECT x AS thr, p - cp AS tp,
        |    (n - cn) - (p - cp) AS fp, cp AS fn,
        |    round(2.0 * (p - cp) /
        |      (2.0 * (p - cp) + ((n - cn) - (p - cp)) + cp), 6) AS f1,
        |    round(CAST(p - cp AS DOUBLE) / p -
        |      CAST((n - cn) - (p - cp) AS DOUBLE) / (n - p), 6) AS j
        |  FROM cum CROSS JOIN tot),
        |bf AS (SELECT thr AS f1_threshold_cents, f1, tp, fp, fn
        |  FROM (SELECT *, row_number() OVER (ORDER BY f1 DESC, thr)
        |      AS rk FROM pts) WHERE rk = 1),
        |bj AS (SELECT thr AS youden_threshold_cents, j AS youden_j
        |  FROM (SELECT *, row_number() OVER (ORDER BY j DESC, thr)
        |      AS rk FROM pts) WHERE rk = 1)
        |SELECT * FROM bf CROSS JOIN bj""".stripMargin,

    "q314_records_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT day, cents,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |    CASE WHEN cents > coalesce(max(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS isrec
        |  FROM daily)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(isrec) AS BIGINT) AS n_records,
        |  round(sum(1.0 / k), 4) AS expected_records,
        |  round((sum(isrec) - sum(1.0 / k)) /
        |    sqrt(sum(1.0 / k - 1.0 / (k * k))), 4) AS z,
        |  strftime(max(CASE WHEN isrec = 1 THEN day END), '%Y-%m-%d')
        |    AS last_record_day
        |FROM idx""".stripMargin,

    "q315_erlang_c" ->
      """WITH span AS (SELECT CAST(count(*) AS BIGINT) * 3.6e9 /
        |      (max(epoch_us(ts)) - min(epoch_us(ts))) AS lam_hr
        |  FROM events),
        |ld AS (SELECT lam_hr, lam_hr * 0.05 AS a FROM span),
        |cs AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS c),
        |ks AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS k),
        |sums AS (SELECT c, a, sum(pow(a, CAST(k AS DOUBLE)) /
        |      CAST(factorial(CAST(k AS INTEGER)) AS DOUBLE)) AS s0
        |  FROM cs JOIN ks ON k < c CROSS JOIN ld
        |  GROUP BY 1, 2),
        |pt AS (SELECT c, a, s0,
        |    pow(a, CAST(c AS DOUBLE)) /
        |      CAST(factorial(CAST(c AS INTEGER)) AS DOUBLE) AS tc,
        |    a / CAST(c AS DOUBLE) AS rho
        |  FROM sums)
        |SELECT c, round(a, 4) AS offered_erlangs, round(rho, 4) AS rho,
        |  round(tc / ((1.0 - rho) * s0 + tc), 6) AS p_wait,
        |  round(tc / ((1.0 - rho) * s0 + tc) * 3.0 /
        |    (CAST(c AS DOUBLE) - a), 6) AS asa_minutes
        |FROM pt WHERE rho < 1 ORDER BY c""".stripMargin,

    "q316_esd_outliers" ->
      """WITH m0 AS (SELECT CAST(year(o_orderdate) * 100 +
        |      month(o_orderdate) AS BIGINT) AS mid,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      // 100000 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS ss FROM m0),
        |sc1 AS (SELECT mid, v, round(abs(v - CAST(s AS DOUBLE) / n) /
        |      sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) AS r_stat,
        |    row_number() OVER (ORDER BY round(abs(v - CAST(s AS DOUBLE)
        |      / n) / sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) DESC, mid) AS rk
        |  FROM m0 CROSS JOIN s1),
        |o1 AS (SELECT CAST(1 AS BIGINT) AS round, mid AS month_id,
        |    v AS value_kusd, r_stat FROM sc1 WHERE rk = 1),
        |m1 AS (SELECT mid, v FROM sc1 WHERE rk <> 1),
        |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS ss FROM m1),
        |sc2 AS (SELECT mid, v, round(abs(v - CAST(s AS DOUBLE) / n) /
        |      sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) AS r_stat,
        |    row_number() OVER (ORDER BY round(abs(v - CAST(s AS DOUBLE)
        |      / n) / sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) DESC, mid) AS rk
        |  FROM m1 CROSS JOIN s2),
        |o2 AS (SELECT CAST(2 AS BIGINT) AS round, mid, v, r_stat
        |  FROM sc2 WHERE rk = 1),
        |m2 AS (SELECT mid, v FROM sc2 WHERE rk <> 1),
        |s3 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS ss FROM m2),
        |sc3 AS (SELECT mid, v, round(abs(v - CAST(s AS DOUBLE) / n) /
        |      sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) AS r_stat,
        |    row_number() OVER (ORDER BY round(abs(v - CAST(s AS DOUBLE)
        |      / n) / sqrt(CAST(n * ss - s * s AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (n - 1))), 6) DESC, mid) AS rk
        |  FROM m2 CROSS JOIN s3),
        |o3 AS (SELECT CAST(3 AS BIGINT) AS round, mid, v, r_stat
        |  FROM sc3 WHERE rk = 1)
        |SELECT round, month_id, value_kusd, r_stat FROM o1
        |UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
        |ORDER BY round""".stripMargin,

    "q317_quantile_norm" ->
      """WITH geo AS (SELECT r_name,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
        |    c_custkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |ranked AS (SELECT r_name, x,
        |    CAST(row_number() OVER (PARTITION BY r_name
        |      ORDER BY x * 16777216 + c_custkey) AS BIGINT) AS rk
        |  FROM geo),
        |nr AS (SELECT r_name, CAST(count(*) AS BIGINT) AS nr
        |  FROM geo GROUP BY 1),
        |cuts AS (SELECT r_name, d, x
        |  FROM ranked JOIN nr USING (r_name)
        |  JOIN (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS d)
        |    ON rk = (d * nr) // 10),
        |tgt AS (SELECT d, CAST(sum(x) AS DOUBLE) / count(*) AS tgt
        |  FROM cuts GROUP BY 1)
        |SELECT r_name, d AS decile,
        |  round(x / 100.0, 2) AS value_dollars,
        |  round(tgt / 100, 2) AS target_dollars,
        |  round((x - tgt) / 100, 2) AS shift_dollars
        |FROM cuts JOIN tgt USING (d)
        |ORDER BY r_name, decile""".stripMargin,

    "q318_order_reconciliation" ->
      """WITH lines AS (SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) *
        |      (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS calc
        |  FROM lineitem GROUP BY 1),
        |recon AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS stated,
        |    calc - CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      AS gap,
        |    round(CAST(abs(calc - CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE) /
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 6)
        |      AS rel_gap
        |  FROM orders JOIN lines ON o_orderkey = l_orderkey),
        |summary AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exact,
        |    CAST(sum(CASE WHEN rel_gap > 0.01 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_flagged,
        |    CAST(sum(abs(gap)) AS BIGINT) AS total_abs_gap_cents
        |  FROM recon),
        |worst AS (SELECT o_orderkey AS worst_orderkey,
        |    rel_gap AS worst_rel_gap
        |  FROM (SELECT *, row_number() OVER (ORDER BY rel_gap DESC,
        |      o_orderkey) AS rk FROM recon) WHERE rk = 1)
        |SELECT * FROM summary CROSS JOIN worst""".stripMargin,

    "q319_kruskal_wallis" ->
      """WITH base AS (SELECT c_mktsegment AS sg,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |byvs AS (SELECT v, sg, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |cum AS (SELECT v, cv,
        |    CAST(sum(cv) OVER (ORDER BY v) - cv AS BIGINT) AS bef
        |  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS cv
        |    FROM byvs GROUP BY 1)),
        |perseg AS (SELECT sg, CAST(sum(c) AS BIGINT) AS n_g,
        |    CAST(sum(c * (2 * bef + cv + 1)) AS BIGINT) AS r2
        |  FROM byvs JOIN cum USING (v) GROUP BY 1),
        |ties AS (SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS tc
        |  FROM cum),
        |stat AS (SELECT n AS n_total, round(hc, 4) AS h_tied,
        |    round(exp(-hc / 2) * (1.0 + hc / 2), 6) AS p_value
        |  FROM (SELECT n,
        |      (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr
        |        - 3.0 * (n + 1)) /
        |      (1.0 - CAST(tc AS DOUBLE) / (n * n * n - n)) AS hc
        |    FROM (SELECT CAST(sum(n_g) AS BIGINT) AS n,
        |        sum(CAST(r2 AS DOUBLE) * r2 / (4.0 * n_g)) AS sr
        |      FROM perseg) CROSS JOIN ties))
        |SELECT sg AS segment, n_g AS n,
        |  round(CAST(r2 AS DOUBLE) / (2.0 * n_g), 2) AS mean_rank,
        |  n_total, h_tied, p_value
        |FROM perseg CROSS JOIN stat
        |ORDER BY segment""".stripMargin,

    "q320_spatial_grid_join" ->
      """WITH cust AS (SELECT c_custkey AS ck,
        |    (c_custkey * 1103515245 + 12345) % 1000000 AS x,
        |    (c_custkey * 69069 + 1) % 1000000 AS y
        |  FROM customer),
        |supp AS (SELECT s_suppkey AS sk,
        |    (s_suppkey * 48271 + 99991) % 1000000 AS sx,
        |    (s_suppkey * 16807 + 12347) % 1000000 AS sy
        |  FROM supplier),
        |offs AS (SELECT dx.range AS dx, dy.range AS dy
        |  FROM range(-1, 2) dx, range(-1, 2) dy),
        |supx AS (SELECT sk, sx, sy, sx // 40000 + dx AS cx,
        |    sy // 40000 + dy AS cy
        |  FROM supp CROSS JOIN offs),
        |pairs AS (SELECT ck, sk,
        |    (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2
        |  FROM cust JOIN supx
        |    ON x // 40000 = cx AND y // 40000 = cy
        |  WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy)
        |    <= 1600000000),
        |summary AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    round(avg(sqrt(CAST(d2 AS DOUBLE))), 2) AS avg_dist
        |  FROM pairs)
        |SELECT rk AS rank, ck AS custkey, sk AS suppkey,
        |  round(sqrt(CAST(d2 AS DOUBLE)), 2) AS dist, n_pairs, avg_dist
        |FROM (SELECT *, CAST(row_number()
        |    OVER (ORDER BY d2, ck, sk) AS BIGINT) AS rk FROM pairs)
        |CROSS JOIN summary WHERE rk <= 5 ORDER BY rk""".stripMargin,

    "q321_poisson_bootstrap" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |reps AS (SELECT cents, r.range AS rep,
        |    CAST((k * 1103515245 + r.range * 40503 + 12345)
        |      % 2147483648 AS DOUBLE) / 2147483648.0 AS u
        |  FROM base CROSS JOIN range(0, 200) r),
        |wtd AS (SELECT rep, cents,
        |    CAST(CASE WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238462 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      WHEN u < 0.9999167588507119 THEN 6
        |      WHEN u < 0.9999897508033253 THEN 7
        |      WHEN u < 0.9999988805718283 THEN 8 ELSE 9 END
        |      AS BIGINT) AS w
        |  FROM reps),
        |perrep AS (SELECT rep,
        |    round(CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100.0, 4)
        |      AS mean_d
        |  FROM wtd GROUP BY 1),
        |ranked AS (SELECT mean_d, CAST(row_number()
        |    OVER (ORDER BY mean_d, rep) AS BIGINT) AS rk FROM perrep)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 4)
        |    AS mean_dollars,
        |  (SELECT mean_d FROM ranked WHERE rk = 5) AS ci_lo_dollars,
        |  (SELECT mean_d FROM ranked WHERE rk = 196) AS ci_hi_dollars
        |FROM base""".stripMargin,

    "q322_isotonic_pava" ->
      """WITH lines AS (SELECT l_orderkey, CAST(count(*) AS BIGINT)
        |    AS nl FROM lineitem GROUP BY 1),
        |base AS (SELECT least(19, CAST(floor(o_totalprice / 25000)
        |      AS BIGINT)) AS b,
        |    CASE WHEN nl >= 4 THEN 1 ELSE 0 END AS y
        |  FROM orders JOIN lines ON o_orderkey = l_orderkey),
        |bins AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS yy FROM base GROUP BY 1),
        |cum AS (SELECT b, n, yy,
        |    CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS cn,
        |    CAST(sum(yy) OVER (ORDER BY b) AS BIGINT) AS cy
        |  FROM bins),
        |pairs AS (SELECT l.b AS i, r.b AS j,
        |    CAST(r.cy - (l.cy - l.yy) AS DOUBLE) /
        |      (r.cn - (l.cn - l.n)) AS a
        |  FROM cum l JOIN cum r ON l.b <= r.b),
        |iso AS (SELECT k, max(ma) AS g FROM (
        |    SELECT bins.b AS k, i, min(a) AS ma
        |    FROM bins JOIN pairs ON i <= bins.b AND bins.b <= j
        |    GROUP BY 1, 2) GROUP BY 1)
        |SELECT b AS bin, n, yy AS events,
        |  round(CAST(yy AS DOUBLE) / n, 4) AS raw_rate,
        |  round(g, 4) AS iso_rate
        |FROM bins JOIN iso ON b = k ORDER BY bin""".stripMargin,

    "q323_durbin_watson" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT rev, CAST(row_number() OVER (ORDER BY d)
        |    AS BIGINT) AS tt FROM daily),
        |mom AS (SELECT n, beta, (sy - beta * st) / CAST(n AS DOUBLE)
        |    AS alpha
        |  FROM (SELECT n, st, sy,
        |      CAST(n * sty - st * sy AS DOUBLE) /
        |        (n * stt - st * st) AS beta
        |    FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(tt) AS BIGINT) AS st,
        |        CAST(sum(tt * tt) AS BIGINT) AS stt,
        |        CAST(sum(rev) AS BIGINT) AS sy,
        |        CAST(sum(tt * rev) AS BIGINT) AS sty FROM idx))),
        |resid AS (SELECT tt, n, beta,
        |    CAST(rev AS DOUBLE) - alpha - beta * tt AS e
        |  FROM idx CROSS JOIN mom),
        |lagged AS (SELECT n, beta, e,
        |    lag(e, 1) OVER (ORDER BY tt) AS ep FROM resid),
        |dw AS (SELECT any_value(n) AS n_days,
        |    round(any_value(beta), 2) AS slope_per_day,
        |    sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
        |      ELSE 0.0 END) / sum(e * e) AS dw
        |  FROM lagged)
        |SELECT n_days, slope_per_day, round(dw, 4) AS dw,
        |  round(1.0 - dw / 2, 4) AS rho_lag1 FROM dw""".stripMargin,

    "q324_cochran_armitage" ->
      """WITH cat AS (SELECT
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS k,
        |    CAST(count(*) AS BIGINT) AS n_k,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y_k
        |  FROM orders GROUP BY 1),
        |stat AS (SELECT n_total,
        |    round(CAST(tstar AS DOUBLE) *
        |      sqrt(CAST(n_total AS DOUBLE) / vstar), 4) AS z_trend,
        |    round(CAST(tstar AS DOUBLE) * tstar * n_total / vstar, 4)
        |      AS z2
        |  FROM (SELECT n AS n_total,
        |      n * swy - yy * swn AS tstar,
        |      CAST(yy AS DOUBLE) * (n - yy) *
        |        (CAST(n AS DOUBLE) * swwn - CAST(swn AS DOUBLE) * swn)
        |        AS vstar
        |    FROM (SELECT CAST(sum(n_k) AS BIGINT) AS n,
        |        CAST(sum(y_k) AS BIGINT) AS yy,
        |        CAST(sum(k * n_k) AS BIGINT) AS swn,
        |        CAST(sum(k * y_k) AS BIGINT) AS swy,
        |        CAST(sum(k * k * n_k) AS BIGINT) AS swwn FROM cat)))
        |SELECT k AS priority, n_k AS n,
        |  round(CAST(y_k AS DOUBLE) / n_k, 4) AS rate_f,
        |  n_total, z_trend, z2
        |FROM cat CROSS JOIN stat ORDER BY priority""".stripMargin,

    "q325_ratio_delta" ->
      """WITH percust AS (SELECT c_mktsegment AS sg, o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |mom AS (SELECT sg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM percust GROUP BY 1),
        |var1 AS (SELECT sg, n, CAST(sx AS DOUBLE) / sy AS r,
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
        |      (CAST(n AS DOUBLE) * (n - 1)) AS vx,
        |    (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) /
        |      (CAST(n AS DOUBLE) * (n - 1)) AS vy,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |      (CAST(n AS DOUBLE) * (n - 1)) AS cxy,
        |    CAST(sy AS DOUBLE) / n AS muy
        |  FROM mom),
        |var2 AS (SELECT sg, n, r,
        |    sqrt((vx - 2.0 * r * cxy + r * r * vy) /
        |      (n * muy * muy)) AS se
        |  FROM var1)
        |SELECT sg AS segment, n AS n_cust,
        |  round(r, 4) AS dollars_per_order, round(se, 4) AS se,
        |  round(r - 1.96 * se, 4) AS ci_lo,
        |  round(r + 1.96 * se, 4) AS ci_hi
        |FROM var2 ORDER BY segment""".stripMargin,

    "q326_pettitt" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1),
        |byv AS (SELECT rev,
        |    2 * (CAST(sum(cv) OVER (ORDER BY rev) AS BIGINT) - cv)
        |      + cv + 1 AS ar2
        |  FROM (SELECT rev, CAST(count(*) AS BIGINT) AS cv
        |    FROM daily GROUP BY 1)),
        |u AS (SELECT d,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
        |    CAST(sum(ar2) OVER (ORDER BY d) AS BIGINT) AS cum
        |  FROM daily JOIN byv USING (rev)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |ut AS (SELECT d, n, cum - t * (n + 1) AS u_t
        |  FROM u CROSS JOIN nn WHERE t < n)
        |SELECT n AS n_days, strftime(d, '%Y-%m-%d') AS change_date,
        |  abs(u_t) AS k_stat,
        |  round(2.0 * exp(-6.0 * CAST(abs(u_t) AS DOUBLE) * abs(u_t) /
        |    (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 6)
        |    AS p_value
        |FROM (SELECT *, row_number()
        |    OVER (ORDER BY abs(u_t) DESC, d) AS rk FROM ut)
        |WHERE rk = 1""".stripMargin,

    "q327_theil_decomposition" ->
      """WITH spend AS (SELECT n_name AS nat, x FROM (
        |    SELECT o_custkey,
        |      CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |        AS x
        |    FROM orders GROUP BY 1) s
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE x > 0),
        |pernat AS (SELECT nat, ng, xg,
        |    xlx / xg - ln(CAST(xg AS DOUBLE) / ng) AS tg
        |  FROM (SELECT nat, CAST(count(*) AS BIGINT) AS ng,
        |      CAST(sum(x) AS BIGINT) AS xg,
        |      sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) AS xlx
        |    FROM spend GROUP BY 1)),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(xg) AS BIGINT) AS xx FROM pernat),
        |parts AS (SELECT nat, ng, xg, tg,
        |    CAST(xg AS DOUBLE) / xx AS share,
        |    (CAST(xg AS DOUBLE) / xx) *
        |      ln((CAST(xg AS DOUBLE) / xx) / (CAST(ng AS DOUBLE) / n))
        |      AS btw_term,
        |    (CAST(xg AS DOUBLE) / xx) * tg AS win_term
        |  FROM pernat CROSS JOIN tot),
        |stat AS (SELECT theil_between, theil_within_total,
        |    round(theil_between + theil_within_total, 6) AS theil_total
        |  FROM (SELECT round(sum(btw_term), 6) AS theil_between,
        |      round(sum(win_term), 6) AS theil_within_total
        |    FROM parts))
        |SELECT nat AS nation, ng AS n_cust, round(share, 4)
        |    AS spend_share,
        |  round(tg, 6) AS theil_within, theil_between,
        |  theil_within_total, theil_total
        |FROM parts CROSS JOIN stat ORDER BY nation""".stripMargin,

    "q328_mcnemar" ->
      """WITH flags AS (SELECT
        |    coalesce(a95, 0) AS a95, coalesce(a96, 0) AS a96
        |  FROM customer LEFT JOIN (SELECT o_custkey,
        |      CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1
        |        ELSE 0 END) AS BIGINT) AS a95,
        |      CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1
        |        ELSE 0 END) AS BIGINT) AS a96
        |    FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
        |cells AS (SELECT CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(CASE WHEN a95 > 0 AND a96 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN a95 = 0 AND a96 > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN a95 > 0 AND a96 > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_active
        |  FROM flags),
        |st AS (SELECT *, CAST(abs(b - c) - 1 AS DOUBLE) *
        |    (abs(b - c) - 1) / (b + c) AS stat FROM cells),
        |ax AS (SELECT *, sqrt(stat / 2) AS x,
        |    1.0 / (1.0 + 0.3275911 * sqrt(stat / 2)) AS tt FROM st)
        |SELECT n_cust, b AS lost_95, c AS gained_96, both_active,
        |  round(stat, 4) AS chi2_cc,
        |  round((0.254829592 * tt - 0.284496736 * tt * tt +
        |    1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt * tt
        |    + 1.061405429 * tt * tt * tt * tt * tt) * exp(-x * x), 6)
        |    AS p_value
        |FROM ax""".stripMargin,

    "q329_cramer_von_mises" ->
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
        |cum AS (SELECT v, ca, cb,
        |    CAST(sum(ca) OVER w AS BIGINT) AS cca,
        |    CAST(sum(cb) OVER w AS BIGINT) AS ccb
        |  FROM byval WINDOW w AS (ORDER BY v)),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM byval),
        |uu AS (SELECT any_value(na) AS n_asia, any_value(nb)
        |      AS n_europe,
        |    sum((CAST(cca AS DOUBLE) * nb - CAST(ccb AS DOUBLE) * na) *
        |      (CAST(cca AS DOUBLE) * nb - CAST(ccb AS DOUBLE) * na) *
        |      (ca + cb)) AS u
        |  FROM cum CROSS JOIN tot)
        |SELECT n_asia, n_europe,
        |  round(u / (CAST(n_asia AS DOUBLE) * n_europe) /
        |    (CAST(n_asia + n_europe AS DOUBLE) * (n_asia + n_europe)),
        |    6) AS t_stat
        |FROM uu""".stripMargin,

    "q330_haar_variance" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT rev, CAST(row_number() OVER (ORDER BY d) - 1
        |    AS BIGINT) AS t FROM daily),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
        |lv AS (SELECT CAST(j.range AS BIGINT) AS level,
        |    CAST(power(2, j.range) AS BIGINT) AS span,
        |    CAST(power(2, j.range - 1) AS BIGINT) AS half
        |  FROM range(1, 9) j),
        |blocks AS (SELECT level, span, t // span AS blk,
        |    CAST(sum(CASE WHEN t % span < half THEN rev ELSE 0 END)
        |      AS BIGINT) AS sl,
        |    CAST(sum(CASE WHEN t % span >= half THEN rev ELSE 0 END)
        |      AS BIGINT) AS sr
        |  FROM idx CROSS JOIN lv CROSS JOIN nn
        |  WHERE t < (nd // span) * span
        |  GROUP BY 1, 2, 3),
        |levels AS (SELECT level, CAST(count(*) AS BIGINT) AS n_blocks,
        |    sum(CAST(sl - sr AS DOUBLE) * (sl - sr) / span) AS energy
        |  FROM blocks GROUP BY 1),
        |te AS (SELECT sum(energy) AS tot FROM levels)
        |SELECT level, n_blocks, round(energy / 1.0e6, 2)
        |    AS energy_musd2,
        |  round(energy / tot, 4) AS energy_share
        |FROM levels CROSS JOIN te ORDER BY level""".stripMargin,

    "q331_caliper_matching" ->
      """WITH spend AS (SELECT o_custkey, CAST(sum(CAST(floor(
        |      o_totalprice) AS BIGINT)) AS BIGINT) AS sp
        |  FROM orders GROUP BY 1),
        |cust AS (SELECT c_custkey AS ck,
        |    c_mktsegment = 'BUILDING' AS treated,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    coalesce(sp, 0) AS outcome
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |controls AS (SELECT v // 1000 AS bk, v AS cv, ck AS cck,
        |    outcome AS cout FROM cust WHERE NOT treated),
        |expanded AS (SELECT ck, v, outcome, v // 1000 + off.range AS bk
        |  FROM cust CROSS JOIN range(-1, 2) off WHERE treated),
        |pairs AS (SELECT ck, outcome, ad, cout FROM (
        |    SELECT ck, outcome, abs(v - cv) AS ad, cck, cout,
        |      row_number() OVER (PARTITION BY ck
        |        ORDER BY abs(v - cv), cck) AS rn
        |    FROM expanded JOIN controls USING (bk)
        |    WHERE abs(v - cv) <= 1000) WHERE rn = 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated
        |  FROM cust WHERE treated)
        |SELECT n_treated, CAST(count(*) AS BIGINT) AS n_matched,
        |  round(CAST(count(*) AS DOUBLE) / n_treated, 4) AS match_rate,
        |  round(avg(CAST(outcome - cout AS DOUBLE)), 2) AS att_dollars,
        |  round(avg(CAST(ad AS DOUBLE)) / 100, 4)
        |    AS mean_score_gap_dollars
        |FROM pairs CROSS JOIN nt
        |GROUP BY n_treated""".stripMargin,

    "q332_granger" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS wd,
        |    r_name,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
        |      AS BIGINT) AS kd
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name IN ('ASIA', 'EUROPE') GROUP BY 1, 2),
        |weekly AS (SELECT wd // 7 AS w,
        |    CAST(sum(CASE WHEN r_name = 'ASIA' THEN kd ELSE 0 END)
        |      AS BIGINT) AS asia,
        |    CAST(sum(CASE WHEN r_name = 'EUROPE' THEN kd ELSE 0 END)
        |      AS BIGINT) AS europe
        |  FROM daily GROUP BY 1),
        |lagged AS (SELECT * FROM (SELECT asia, europe,
        |    lag(asia) OVER (ORDER BY w) AS asia_l,
        |    lag(europe) OVER (ORDER BY w) AS europe_l
        |  FROM weekly) WHERE asia_l IS NOT NULL),
        |dirs AS (
        |  SELECT 'europe_to_asia' AS direction, asia AS y,
        |    asia_l AS u, europe_l AS v FROM lagged
        |  UNION ALL
        |  SELECT 'asia_to_europe' AS direction, europe AS y,
        |    europe_l AS u, asia_l AS v FROM lagged),
        |mom AS (SELECT direction, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(u) AS BIGINT) AS su,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(u * u) AS BIGINT) AS suu,
        |    CAST(sum(v * v) AS BIGINT) AS svv,
        |    CAST(sum(u * v) AS BIGINT) AS suv,
        |    CAST(sum(u * y) AS BIGINT) AS suy,
        |    CAST(sum(v * y) AS BIGINT) AS svy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM dirs GROUP BY 1),
        |cen AS (SELECT direction, n,
        |    n * suu - su * su AS cuu, n * svv - sv * sv AS cvv,
        |    n * suv - su * sv AS cuv, n * suy - su * sy AS cuy,
        |    n * svy - sv * sy AS cvy, n * syy - sy * sy AS cyy
        |  FROM mom),
        |coefs AS (SELECT direction, n, cuy, cvy, cyy, cuu,
        |    (CAST(cvv AS DOUBLE) * cuy - CAST(cuv AS DOUBLE) * cvy) /
        |      (CAST(cuu AS DOUBLE) * cvv - CAST(cuv AS DOUBLE) * cuv)
        |      AS b,
        |    (CAST(cuu AS DOUBLE) * cvy - CAST(cuv AS DOUBLE) * cuy) /
        |      (CAST(cuu AS DOUBLE) * cvv - CAST(cuv AS DOUBLE) * cuv)
        |      AS c
        |  FROM cen),
        |rss AS (SELECT direction, n, b, c,
        |    (cyy - b * cuy - c * cvy) / CAST(n AS DOUBLE) AS rss_u,
        |    (cyy - CAST(cuy AS DOUBLE) * cuy / cuu) / CAST(n AS DOUBLE)
        |      AS rss_r
        |  FROM coefs)
        |SELECT direction, n AS n_weeks, round(b, 4) AS own_lag_coef,
        |  round(c, 4) AS cross_lag_coef,
        |  round((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat
        |FROM rss ORDER BY direction""".stripMargin,

    "q333_fellegi_sunter" ->
      """WITH cust AS (SELECT c_custkey AS ck, c_nationkey AS nat,
        |    c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
        |unat AS (SELECT CAST(agree AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * (n - 1)) AS u_nat
        |  FROM (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS agree
        |    FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM cust
        |      GROUP BY nat)) CROSS JOIN nn),
        |useg AS (SELECT CAST(agree AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * (n - 1)) AS u_seg
        |  FROM (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS agree
        |    FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM cust
        |      GROUP BY seg)) CROSS JOIN nn),
        |vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c
        |  FROM cust GROUP BY 1),
        |ubal AS (SELECT CAST(inband - n AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * (n - 1)) AS u_bal
        |  FROM (SELECT CAST(sum(a.c * b.cw) AS BIGINT) AS inband
        |    FROM (SELECT v, c, v // 1000 + off.range AS bk
        |      FROM vals CROSS JOIN range(-1, 2) off) a
        |    JOIN (SELECT v // 1000 AS bk, v AS w, c AS cw
        |      FROM vals) b USING (bk)
        |    WHERE abs(a.v - b.w) <= 1000) CROSS JOIN nn),
        |us AS (SELECT * FROM unat CROSS JOIN useg CROSS JOIN ubal),
        |pairs AS (SELECT a.nat = b.nat AS na, a.seg = b.seg AS sa,
        |    abs(a.v - b.v) <= 1000 AS ba
        |  FROM (SELECT *, ck // 10 AS bk FROM cust) a
        |  JOIN (SELECT *, ck // 10 AS bk FROM cust) b
        |    ON a.bk = b.bk AND a.ck < b.ck),
        |patterns AS (SELECT na, sa, ba, CAST(count(*) AS BIGINT)
        |    AS n_pairs FROM pairs GROUP BY 1, 2, 3),
        |scored AS (SELECT na AS nation_agree, sa AS segment_agree,
        |    ba AS balance_agree, n_pairs,
        |    round(u_nat, 6) AS u_nation, round(u_bal, 6) AS u_balance,
        |    round(
        |      (CASE WHEN na THEN ln(0.95 / u_nat)
        |        ELSE ln((1.0 - 0.95) / (1.0 - u_nat)) END) +
        |      (CASE WHEN sa THEN ln(0.9 / u_seg)
        |        ELSE ln((1.0 - 0.9) / (1.0 - u_seg)) END) +
        |      (CASE WHEN ba THEN ln(0.85 / u_bal)
        |        ELSE ln((1.0 - 0.85) / (1.0 - u_bal)) END), 4)
        |      AS weight
        |  FROM patterns CROSS JOIN us)
        |SELECT *, CASE WHEN weight >= 4.0 THEN 'match'
        |    WHEN weight >= -2.0 THEN 'possible'
        |    ELSE 'non_match' END AS decision
        |FROM scored
        |ORDER BY nation_agree, segment_agree, balance_agree"""
        .stripMargin,

    "q334_dtw" -> {
      // the 11 column-fold steps are unrolled as generated CTEs — the
      // same bounded DP the engine runs, in DuckDB's own dialect
      val head =
        """WITH am AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS i,
          |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
          |      AS BIGINT) AS va
          |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
          |bm AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS j,
          |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
          |      AS BIGINT) AS vb
          |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
          |cost AS (SELECT i, j, abs(va - vb) AS c
          |  FROM am CROSS JOIN bm),
          |d1 AS (SELECT i, CAST(sum(c) OVER (ORDER BY i) AS BIGINT)
          |    AS d FROM cost WHERE j = 1)""".stripMargin
      val steps = (2 to 12).map { j =>
        s"""e$j AS (SELECT i, least(d, coalesce(lag(d)
           |    OVER (ORDER BY i), d)) AS e FROM d${j - 1}),
           |c$j AS (SELECT i, c, CAST(sum(c) OVER (ORDER BY i)
           |    AS BIGINT) AS cs FROM cost WHERE j = $j),
           |d$j AS (SELECT c$j.i AS i, cs + min(e - cs + c)
           |    OVER (ORDER BY c$j.i) AS d
           |  FROM c$j JOIN e$j ON c$j.i = e$j.i)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + steps +
        "\nSELECT CAST(12 AS BIGINT) AS n_months, " +
        "CAST(d AS BIGINT) AS dtw_kusd FROM d12 WHERE i = 12"
    },

    "q335_binary_segmentation" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |cum AS (SELECT d,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
        |    CAST(sum(y) OVER (ORDER BY d) AS BIGINT) AS s1,
        |    CAST(sum(y * y) OVER (ORDER BY d) AS BIGINT) AS s2
        |  FROM daily),
        |tot AS (SELECT max(t) AS n, max(s1) AS g1, max(s2) AS g2
        |  FROM cum),
        |c1 AS (SELECT d, t, n, g1, g2,
        |    round(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / t +
        |      (CAST(g2 - s2 AS DOUBLE) - CAST(g1 - s1 AS DOUBLE) *
        |        (g1 - s1) / (n - t)), 4) AS sse
        |  FROM cum CROSS JOIN tot WHERE t < n),
        |best1 AS (SELECT t AS t1, d AS d1, sse AS sse1 FROM (
        |    SELECT *, row_number() OVER (ORDER BY sse, t) AS rk
        |    FROM c1) WHERE rk = 1),
        |t1row AS (SELECT t1, d1, sse1, s1 AS p1, s2 AS p2
        |  FROM cum JOIN best1 ON t = t1),
        |c2 AS (SELECT d, t,
        |    round(CASE WHEN t < t1 THEN
        |      CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / t +
        |      (CAST(p2 - s2 AS DOUBLE) - CAST(p1 - s1 AS DOUBLE) *
        |        (p1 - s1) / (t1 - t)) +
        |      (CAST(g2 - p2 AS DOUBLE) - CAST(g1 - p1 AS DOUBLE) *
        |        (g1 - p1) / (n - t1))
        |    ELSE
        |      CAST(p2 AS DOUBLE) - CAST(p1 AS DOUBLE) * p1 / t1 +
        |      (CAST(s2 - p2 AS DOUBLE) - CAST(s1 - p1 AS DOUBLE) *
        |        (s1 - p1) / (t - t1)) +
        |      (CAST(g2 - s2 AS DOUBLE) - CAST(g1 - s1 AS DOUBLE) *
        |        (g1 - s1) / (n - t))
        |    END, 4) AS sse
        |  FROM cum CROSS JOIN tot CROSS JOIN t1row
        |  WHERE t < n AND t <> t1),
        |best2 AS (SELECT t AS t2, d AS d2, sse AS sse2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY sse, t) AS rk
        |    FROM c2) WHERE rk = 1),
        |sse0 AS (SELECT n,
        |    round(CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * g1 / n, 4)
        |      AS sse0
        |  FROM tot)
        |SELECT n AS n_days,
        |  strftime(least(d1, d2), '%Y-%m-%d') AS change_1,
        |  strftime(greatest(d1, d2), '%Y-%m-%d') AS change_2,
        |  sse0, sse1, sse2,
        |  round(1.0 - sse2 / sse0, 6) AS var_explained
        |FROM sse0 CROSS JOIN t1row CROSS JOIN best2""".stripMargin,

    "q336_anova_f" ->
      """WITH g AS (SELECT c_mktsegment AS sg,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sg1,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sg2
        |  FROM customer GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg1) AS BIGINT) AS s1,
        |    CAST(sum(sg2) AS BIGINT) AS s2,
        |    sum(CAST(sg1 AS DOUBLE) * sg1 / ng) AS sb
        |  FROM g),
        |ss AS (SELECT k, n,
        |    sb - CAST(s1 AS DOUBLE) * s1 / n AS ssb,
        |    CAST(s2 AS DOUBLE) - sb AS ssw
        |  FROM agg),
        |f AS (SELECT k, n, ssb, ssw,
        |    (ssb / (k - 1)) / (ssw / (n - k)) AS f FROM ss)
        |SELECT n AS n_cust, k AS k_groups, round(f, 4) AS f_stat,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq,
        |  round(exp(-(f * 4) / 2) * (1.0 + (f * 4) / 2), 6)
        |    AS p_approx
        |FROM f""".stripMargin,

    "q337_brown_forsythe" ->
      """WITH base AS (SELECT c_mktsegment AS sg,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * 16777216
        |      + c_custkey AS ok
        |  FROM customer),
        |ranked AS (SELECT sg, v, CAST(row_number()
        |    OVER (PARTITION BY sg ORDER BY ok) AS BIGINT) AS rk
        |  FROM base),
        |ngs AS (SELECT sg, CAST(count(*) AS BIGINT) AS ng
        |  FROM base GROUP BY 1),
        |med AS (SELECT sg, v AS med FROM ranked JOIN ngs USING (sg)
        |  WHERE rk = (ng + 1) // 2),
        |g AS (SELECT sg, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(abs(v - med)) AS BIGINT) AS sg1,
        |    CAST(sum(abs(v - med) * abs(v - med)) AS BIGINT) AS sg2
        |  FROM base JOIN med USING (sg) GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg1) AS BIGINT) AS s1,
        |    CAST(sum(sg2) AS BIGINT) AS s2,
        |    sum(CAST(sg1 AS DOUBLE) * sg1 / ng) AS sb
        |  FROM g),
        |f AS (SELECT k, n,
        |    ((sb - CAST(s1 AS DOUBLE) * s1 / n) / (k - 1)) /
        |      ((CAST(s2 AS DOUBLE) - sb) / (n - k)) AS f
        |  FROM agg)
        |SELECT n AS n_cust, k AS k_groups, round(f, 4) AS w_stat,
        |  round(exp(-(f * 4) / 2) * (1.0 + (f * 4) / 2), 6)
        |    AS p_approx
        |FROM f""".stripMargin,

    "q338_tukey_hsd" ->
      """WITH g AS (SELECT c_mktsegment AS sg,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sg1,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sg2
        |  FROM customer GROUP BY 1),
        |mse AS (SELECT (CAST(s2 AS DOUBLE) - sb) /
        |    CAST(n - k AS DOUBLE) AS mse
        |  FROM (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |      CAST(count(*) AS BIGINT) AS k,
        |      CAST(sum(sg2) AS BIGINT) AS s2,
        |      sum(CAST(sg1 AS DOUBLE) * sg1 / ng) AS sb FROM g))
        |SELECT a.sg AS seg_a, b.sg AS seg_b,
        |  round((CAST(a.sg1 AS DOUBLE) / a.ng -
        |    CAST(b.sg1 AS DOUBLE) / b.ng) / 100, 2)
        |    AS mean_diff_dollars,
        |  round((CAST(a.sg1 AS DOUBLE) / a.ng -
        |    CAST(b.sg1 AS DOUBLE) / b.ng) /
        |    sqrt(mse / 2 * (1.0 / a.ng + 1.0 / b.ng)), 4) AS q_stat,
        |  abs(round((CAST(a.sg1 AS DOUBLE) / a.ng -
        |    CAST(b.sg1 AS DOUBLE) / b.ng) /
        |    sqrt(mse / 2 * (1.0 / a.ng + 1.0 / b.ng)), 4)) > 3.86
        |    AS significant
        |FROM g a JOIN g b ON a.sg < b.sg CROSS JOIN mse
        |ORDER BY seg_a, seg_b""".stripMargin,

    "q339_bland_altman" ->
      """WITH diffs AS (SELECT calc - stated AS diff
        |  FROM (SELECT l_orderkey, CAST(sum(CAST(floor(
        |      l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
        |      + 0.5) AS BIGINT)) AS BIGINT) AS calc
        |    FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT o_orderkey,
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |        AS stated FROM orders) o
        |    ON l_orderkey = o_orderkey),
        |mom AS (SELECT n, CAST(s1 AS DOUBLE) / n AS bias,
        |    sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * s1) /
        |      (CAST(n AS DOUBLE) * (n - 1))) AS sd
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(diff) AS BIGINT) AS s1,
        |      sum(CAST(diff AS HUGEINT) * diff) AS s2 FROM diffs))
        |SELECT any_value(n) AS n_orders,
        |  round(any_value(bias), 4) AS bias_cents,
        |  round(any_value(bias) - 1.96 * any_value(sd), 4)
        |    AS loa_lo_cents,
        |  round(any_value(bias) + 1.96 * any_value(sd), 4)
        |    AS loa_hi_cents,
        |  round(avg(CASE WHEN diff < bias - 1.96 * sd THEN 1.0
        |    WHEN diff > bias + 1.96 * sd THEN 1.0 ELSE 0.0 END), 6)
        |    AS frac_outside
        |FROM diffs CROSS JOIN mom""".stripMargin,

    "q340_markov_attribution" -> {
      // the 20 fixed-point steps and the 25-column wide matrix are
      // generated — identical fixed operand order to the engine's fold
      val chans = Seq("click", "view", "signup", "error")
      val froms = "start" +: chans
      val tos = chans :+ "conv"
      val tCols = froms.flatMap(f => tos.map(tt => s"t_${f}_$tt"))
        .mkString(", ")
      val aggCols = froms.flatMap(f => tos.map(tt =>
        s"sum(CASE WHEN f = '$f' AND tt = '$tt' THEN p ELSE 0.0 END)" +
          s" AS t_${f}_$tt")).mkString(",\n    ")
      val p0Cols = chans.map(c => s"0.0 AS p_$c").mkString(", ")
      val iters = (1 to 20).map { k =>
        val ps = chans.map { c =>
          chans.foldLeft(s"t_${c}_conv")((acc, d) =>
            s"$acc + t_${c}_$d * p_$d") + s" AS p_$c"
        }.mkString(",\n    ")
        s"p$k AS (SELECT scen, $tCols,\n    $ps FROM p${k - 1})"
      }.mkString(",\n")
      val pStart = chans.foldLeft("t_start_conv")((acc, d) =>
        s"$acc + t_start_$d * p_$d")
      val wideCols = ("sum(CASE WHEN scen = 'base' THEN p_start " +
        "ELSE 0.0 END) AS p_base") +: chans.map(c =>
        s"sum(CASE WHEN scen = '$c' THEN p_start ELSE 0.0 END)" +
          s" AS p_rm_$c")
      val reCols = chans.map(c =>
        s"(p_base - p_rm_$c) / p_base AS re_$c").mkString(", ")
      val reSum = chans.map(c => s"re_$c").mkString(" + ")
      val outCols = (chans.map(c => s"round(re_$c, 6) AS re_$c") ++
        chans.map(c => s"round(re_$c / ($reSum), 6) AS share_$c"))
        .mkString(",\n  ")
      s"""WITH ev AS (SELECT user_id, event_type AS et,
        |    epoch_us(ts) AS us, event_id FROM events),
        |minp AS (SELECT user_id, CAST(min(us) AS BIGINT) AS mp
        |  FROM ev WHERE et = 'purchase' GROUP BY 1),
        |touches AS (SELECT ev.user_id, et, us, event_id, mp
        |  FROM ev LEFT JOIN minp USING (user_id)
        |  WHERE et <> 'purchase' AND (mp IS NULL OR us < mp)),
        |seq AS (SELECT *, row_number() OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS nt,
        |    lead(et) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id) AS nx,
        |    mp IS NOT NULL AS conv FROM touches),
        |tr AS (
        |  SELECT 'start' AS f, et AS tt FROM seq WHERE rn = 1
        |  UNION ALL SELECT et, nx FROM seq WHERE nx IS NOT NULL
        |  UNION ALL SELECT et, CASE WHEN conv THEN 'conv'
        |    ELSE 'null' END FROM seq WHERE rn = nt
        |  UNION ALL SELECT 'start', 'conv' FROM minp
        |    WHERE user_id NOT IN (SELECT user_id FROM touches)),
        |tc AS (SELECT f, tt, CAST(count(*) AS BIGINT) AS c
        |  FROM tr GROUP BY 1, 2),
        |probs AS (SELECT f, tt, CAST(c AS DOUBLE) / tot AS p
        |  FROM tc JOIN (SELECT f, CAST(sum(c) AS BIGINT) AS tot
        |    FROM tc GROUP BY 1) tots USING (f)),
        |scens AS (SELECT unnest(
        |    ['base', 'click', 'view', 'signup', 'error']) AS scen),
        |red AS (SELECT scen, f,
        |    CASE WHEN tt = scen THEN 'null' ELSE tt END AS tt, p
        |  FROM scens CROSS JOIN probs),
        |tw AS (SELECT scen,
        |    $aggCols
        |  FROM red GROUP BY 1),
        |p0 AS (SELECT *, $p0Cols FROM tw),
        |$iters,
        |fin AS (SELECT scen, $pStart AS p_start FROM p20),
        |wide AS (SELECT ${wideCols.mkString(",\n    ")} FROM fin),
        |re AS (SELECT p_base, $reCols FROM wide),
        |nj AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS n_journeys FROM events)
        |SELECT n_journeys, round(p_base, 6) AS base_cvr,
        |  $outCols
        |FROM re CROSS JOIN nj""".stripMargin
    },

    "q341_qini_uplift" ->
      """WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1996),
        |base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    c_custkey % 2 = 0 AS tr,
        |    CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        |  FROM customer LEFT JOIN y96 ON c_custkey = o_custkey),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |dec AS (SELECT CAST(1 + (rk - 1) * 10 // n AS BIGINT)
        |      AS decile, tr, y, n
        |  FROM (SELECT *, CAST(row_number()
        |      OVER (ORDER BY v DESC, ck) AS BIGINT) AS rk FROM base)
        |    CROSS JOIN nn),
        |per AS (SELECT decile, any_value(n) AS n,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(sum(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS yt,
        |    CAST(sum(CASE WHEN NOT tr THEN y ELSE 0 END) AS BIGINT)
        |      AS yc
        |  FROM dec GROUP BY 1),
        |cum AS (SELECT *,
        |    CAST(cyt AS DOUBLE) - CAST(cyc AS DOUBLE) * cnt / cnc
        |      AS qini,
        |    CAST(cnt + cnc AS DOUBLE) / n AS x
        |  FROM (SELECT *,
        |      CAST(sum(nt) OVER w AS BIGINT) AS cnt,
        |      CAST(sum(nc) OVER w AS BIGINT) AS cnc,
        |      CAST(sum(yt) OVER w AS BIGINT) AS cyt,
        |      CAST(sum(yc) OVER w AS BIGINT) AS cyc
        |    FROM per WINDOW w AS (ORDER BY decile))),
        |curve AS (SELECT *,
        |    sum((qini + ql) / 2 * (x - xl)) OVER wa AS area,
        |    sum(CASE WHEN decile = 10 THEN qini ELSE 0.0 END) OVER wa
        |      AS u_total
        |  FROM (SELECT *,
        |      coalesce(lag(qini) OVER (ORDER BY decile), 0.0) AS ql,
        |      coalesce(lag(x) OVER (ORDER BY decile), 0.0) AS xl
        |    FROM cum)
        |  WINDOW wa AS (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT decile, nt AS n_t, nc AS n_c, yt AS y_t, yc AS y_c,
        |  round(qini, 4) AS qini_k, round(area, 4) AS qini_area,
        |  round(area - u_total / 2, 4) AS qini_coef
        |FROM curve ORDER BY decile""".stripMargin,

    "q342_friedman" ->
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS seg
        |  FROM customer),
        |grid AS (SELECT n_nationkey AS nk, seg
        |  FROM nation CROSS JOIN segs),
        |sums AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sv
        |  FROM customer GROUP BY 1, 2),
        |cells AS (SELECT nk, seg, coalesce(sv, 0) AS v
        |  FROM grid LEFT JOIN sums USING (nk, seg)),
        |ranked AS (SELECT a.nk, a.seg,
        |    2 * CAST(sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
        |      AS BIGINT) +
        |    CAST(sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END)
        |      AS BIGINT) + 1 AS ar2
        |  FROM cells a JOIN cells b ON a.nk = b.nk
        |  GROUP BY 1, 2),
        |perseg AS (SELECT seg, CAST(sum(ar2) AS BIGINT) AS r2
        |  FROM ranked GROUP BY 1),
        |bk AS (SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b,
        |    CAST(count(DISTINCT seg) AS BIGINT) AS k FROM cells),
        |stat AS (SELECT b AS n_blocks, k AS k_treatments,
        |    round(chi2, 4) AS chi2_f,
        |    round(exp(-chi2 / 2) * (1.0 + chi2 / 2), 6) AS p_value
        |  FROM (SELECT b, k,
        |      12.0 / (CAST(b AS DOUBLE) * k * (k + 1)) *
        |        (CAST(sr2 AS DOUBLE) / 4) - 3.0 * b * (k + 1) AS chi2
        |    FROM (SELECT CAST(sum(r2 * r2) AS BIGINT) AS sr2
        |      FROM perseg) CROSS JOIN bk))
        |SELECT seg AS segment,
        |  round(CAST(r2 AS DOUBLE) / (2.0 * n_blocks), 2) AS mean_rank,
        |  n_blocks, k_treatments, chi2_f, p_value
        |FROM perseg CROSS JOIN stat ORDER BY segment""".stripMargin,

    "q343_smd_balance" -> {
      // moment CTEs and SMD expressions generated per covariate —
      // identical operand order to the engine's smd() helper
      val covs = Seq(("acctbal", "v", "mcv"), ("orders", "x_orders",
        "mco"), ("spend", "x_spend", "mcs"))
      def momCte(tag: String, src: String, c: String) =
        s"$tag AS (SELECT CAST(count(*) AS BIGINT) AS ${tag}_n, " +
          s"CAST(sum($c) AS BIGINT) AS ${tag}_s1, " +
          s"sum(CAST($c AS HUGEINT) * $c) AS ${tag}_s2 FROM $src)"
      def smdExpr(t: String, c: String) =
        s"(CAST(${t}_s1 AS DOUBLE) / ${t}_n - " +
          s"CAST(${c}_s1 AS DOUBLE) / ${c}_n) / " +
          s"sqrt(((CAST(${t}_n AS DOUBLE) * CAST(${t}_s2 AS DOUBLE) - " +
          s"CAST(${t}_s1 AS DOUBLE) * ${t}_s1) / " +
          s"(CAST(${t}_n AS DOUBLE) * (${t}_n - 1)) + " +
          s"(CAST(${c}_n AS DOUBLE) * CAST(${c}_s2 AS DOUBLE) - " +
          s"CAST(${c}_s1 AS DOUBLE) * ${c}_s1) / " +
          s"(CAST(${c}_n AS DOUBLE) * (${c}_n - 1))) / 2)"
      val momCtes = covs.flatMap { case (nm, raw, m) => Seq(
        momCte(s"tb_$nm", "tall", raw), momCte(s"cb_$nm", "call", raw),
        momCte(s"ta_$nm", "matched", raw),
        momCte(s"ca_$nm", "matched", m))
      }.mkString(",\n")
      val rows = covs.map { case (nm, _, _) =>
        s"SELECT '$nm' AS covariate, " +
          s"round(${smdExpr(s"tb_$nm", s"cb_$nm")}, 4) AS smd_before, " +
          s"round(${smdExpr(s"ta_$nm", s"ca_$nm")}, 4) AS smd_after " +
          s"FROM tb_$nm CROSS JOIN cb_$nm CROSS JOIN ta_$nm " +
          s"CROSS JOIN ca_$nm"
      }.mkString("\nUNION ALL\n")
      s"""WITH spend AS (SELECT o_custkey, CAST(sum(CAST(floor(
        |      o_totalprice) AS BIGINT)) AS BIGINT) AS sp,
        |    CAST(count(*) AS BIGINT) AS no FROM orders GROUP BY 1),
        |cust AS (SELECT c_custkey AS ck,
        |    c_mktsegment = 'BUILDING' AS treated,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    coalesce(sp, 0) AS x_spend, coalesce(no, 0) AS x_orders
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |controls AS (SELECT v // 1000 AS bk, v AS cv, ck AS cck,
        |    x_spend AS c_spend, x_orders AS c_orders
        |  FROM cust WHERE NOT treated),
        |matched AS (SELECT ck, v, x_spend, x_orders, mcv, mcs, mco
        |  FROM (SELECT t.ck, t.v, t.x_spend, t.x_orders, c.cv AS mcv,
        |      c.c_spend AS mcs, c.c_orders AS mco,
        |      row_number() OVER (PARTITION BY t.ck
        |        ORDER BY abs(t.v - c.cv), c.cck) AS rn
        |    FROM (SELECT ck, v, x_spend, x_orders,
        |        v // 1000 + off.range AS bk
        |      FROM cust CROSS JOIN range(-1, 2) off WHERE treated) t
        |    JOIN controls c USING (bk)
        |    WHERE abs(t.v - c.cv) <= 1000) WHERE rn = 1),
        |tall AS (SELECT * FROM cust WHERE treated),
        |call AS (SELECT * FROM cust WHERE NOT treated),
        |$momCtes
        |SELECT covariate, smd_before, smd_after,
        |  round(1.0 - abs(smd_after) / abs(smd_before), 4)
        |    AS reduction
        |FROM ($rows)
        |ORDER BY covariate""".stripMargin
    },

    "q344_process_capability" ->
      """WITH diffs AS (SELECT calc - stated AS diff
        |  FROM (SELECT l_orderkey, CAST(sum(CAST(floor(
        |      l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
        |      + 0.5) AS BIGINT)) AS BIGINT) AS calc
        |    FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT o_orderkey,
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |        AS stated FROM orders) o
        |    ON l_orderkey = o_orderkey),
        |mom AS (SELECT n, oos, CAST(s1 AS DOUBLE) / n AS mu,
        |    sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * s1) /
        |      (CAST(n AS DOUBLE) * (n - 1))) AS sd
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(diff) AS BIGINT) AS s1,
        |      sum(CAST(diff AS HUGEINT) * diff) AS s2,
        |      CAST(sum(CASE WHEN abs(diff) > 100.0 THEN 1 ELSE 0 END)
        |        AS BIGINT) AS oos FROM diffs)),
        |tails AS (SELECT *,
        |    (100.0 - mu) / sd / sqrt(2.0) AS xu,
        |    (mu + 100.0) / sd / sqrt(2.0) AS xl
        |  FROM mom),
        |poly AS (SELECT *,
        |    1.0 / (1.0 + 0.3275911 * xu) AS tu,
        |    1.0 / (1.0 + 0.3275911 * xl) AS tl
        |  FROM tails)
        |SELECT n AS n_orders, round(mu, 4) AS mean_gap_cents,
        |  round(sd, 4) AS sd_cents,
        |  round(200.0 / (6 * sd), 4) AS cp,
        |  round(least(100.0 - mu, mu + 100.0) / (3 * sd), 4) AS cpk,
        |  round(CAST(oos AS DOUBLE) / n * 1e6, 2) AS ppm_observed,
        |  round(((0.254829592 * tu - 0.284496736 * tu * tu +
        |    1.421413741 * tu * tu * tu - 1.453152027 * tu * tu * tu *
        |    tu + 1.061405429 * tu * tu * tu * tu * tu) *
        |    exp(-xu * xu) / 2 +
        |    (0.254829592 * tl - 0.284496736 * tl * tl +
        |    1.421413741 * tl * tl * tl - 1.453152027 * tl * tl * tl *
        |    tl + 1.061405429 * tl * tl * tl * tl * tl) *
        |    exp(-xl * xl) / 2) * 1e6, 2) AS ppm_normal_pred
        |FROM poly""".stripMargin,

    "q345_wald_sprt" -> {
      // LLR multipliers and boundaries interpolated as the SAME double
      // constants the engine uses — no cross-engine ln() dependence
      val c1 = math.log(0.34 / 0.32)
      val c2 = math.log(0.66 / 0.68)
      val ua = math.log(0.95 / 0.05)
      val ub = math.log(0.05 / 0.95)
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |llr AS (SELECT d, x * $c1 + (nd - x) * $c2 AS inc,
        |    sum(x * $c1 + (nd - x) * $c2) OVER (ORDER BY d) AS cum
        |  FROM daily),
        |ends AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    min(CASE WHEN cum >= $ua THEN d END) AS d_up,
        |    min(CASE WHEN cum <= $ub THEN d END) AS d_dn,
        |    round(sum(inc), 4) AS llr_final
        |  FROM llr)
        |SELECT n_days,
        |  strftime(d_up, '%Y-%m-%d') AS first_h1_cross,
        |  strftime(d_dn, '%Y-%m-%d') AS first_h0_cross,
        |  CASE WHEN d_up IS NULL AND d_dn IS NULL THEN 'continue'
        |    WHEN d_dn IS NULL OR (d_up IS NOT NULL AND d_up < d_dn)
        |    THEN 'accept_h1' ELSE 'accept_h0' END AS decision,
        |  llr_final
        |FROM ends""".stripMargin
    },

    "q346_cindex" ->
      """WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
        |units AS (SELECT
        |    date_diff('day', first, last) AS dur,
        |    date_diff('day', last, mx) > 90 AS event,
        |    least(no, 60) AS sc
        |  FROM (SELECT min(o_orderdate) AS first,
        |      max(o_orderdate) AS last, CAST(count(*) AS BIGINT) AS no
        |    FROM orders GROUP BY o_custkey) CROSS JOIN maxd),
        |cells AS (SELECT dur, sc, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_ev
        |  FROM units GROUP BY 1, 2),
        |grid AS (SELECT d.dur, s.sc, coalesce(c_all, 0) AS cnt,
        |    coalesce(d_ev, 0) AS d_ev
        |  FROM (SELECT DISTINCT dur FROM cells) d
        |  CROSS JOIN (SELECT DISTINCT sc FROM cells) s
        |  LEFT JOIN cells ON d.dur = cells.dur AND s.sc = cells.sc),
        |suf AS (SELECT *,
        |    CAST(sum(cnt) OVER (PARTITION BY sc) -
        |      sum(cnt) OVER (PARTITION BY sc ORDER BY dur) AS BIGINT)
        |      AS s_gt
        |  FROM grid),
        |split AS (SELECT *,
        |    CAST(coalesce(sum(s_gt) OVER (PARTITION BY dur
        |      ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS p_lt,
        |    CAST(sum(s_gt) OVER (PARTITION BY dur) AS BIGINT) AS t_all
        |  FROM suf)
        |SELECT CAST(sum(d_ev * (t_all - p_lt - s_gt)) AS BIGINT)
        |    AS conc,
        |  CAST(sum(d_ev * s_gt) AS BIGINT) AS tied,
        |  CAST(sum(d_ev * p_lt) AS BIGINT) AS disc,
        |  CAST(sum(d_ev * t_all) AS BIGINT) AS comparable,
        |  round((CAST(sum(d_ev * (t_all - p_lt - s_gt)) AS DOUBLE) +
        |    0.5 * sum(d_ev * s_gt)) / sum(d_ev * t_all), 6) AS c_index
        |FROM split WHERE d_ev > 0""".stripMargin,

    "q347_tost_equivalence" ->
      """WITH g AS (SELECT c_mktsegment = 'BUILDING' AS is_a,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS s1,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT) *
        |      CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS s2
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  GROUP BY 1),
        |wide AS (SELECT
        |    CAST(sum(CASE WHEN is_a THEN n ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN is_a THEN s1 ELSE 0 END) AS BIGINT)
        |      AS sa1,
        |    CAST(sum(CASE WHEN is_a THEN s2 ELSE 0 END) AS BIGINT)
        |      AS sa2,
        |    CAST(sum(CASE WHEN NOT is_a THEN n ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN NOT is_a THEN s1 ELSE 0 END) AS BIGINT)
        |      AS sb1,
        |    CAST(sum(CASE WHEN NOT is_a THEN s2 ELSE 0 END) AS BIGINT)
        |      AS sb2
        |  FROM g),
        |base AS (SELECT na, nb,
        |    CAST(sa1 AS DOUBLE) / na - CAST(sb1 AS DOUBLE) / nb
        |      AS diff,
        |    sqrt((CAST(na AS DOUBLE) * CAST(sa2 AS DOUBLE) -
        |      CAST(sa1 AS DOUBLE) * sa1) /
        |      (CAST(na AS DOUBLE) * (na - 1)) / na +
        |      (CAST(nb AS DOUBLE) * CAST(sb2 AS DOUBLE) -
        |      CAST(sb1 AS DOUBLE) * sb1) /
        |      (CAST(nb AS DOUBLE) * (nb - 1)) / nb) AS se
        |  FROM wide),
        |zs AS (SELECT *, (diff + 5000.0) / se AS z1,
        |    (5000.0 - diff) / se AS z2 FROM base),
        |ps AS (SELECT *,
        |    abs(z1) / sqrt(2.0) AS x1, abs(z2) / sqrt(2.0) AS x2,
        |    1.0 / (1.0 + 0.3275911 * (abs(z1) / sqrt(2.0))) AS t1,
        |    1.0 / (1.0 + 0.3275911 * (abs(z2) / sqrt(2.0))) AS t2
        |  FROM zs),
        |pv AS (SELECT na, nb, diff, se,
        |    CASE WHEN z1 >= 0 THEN h1 ELSE 1.0 - h1 END AS p_lower,
        |    CASE WHEN z2 >= 0 THEN h2 ELSE 1.0 - h2 END AS p_upper
        |  FROM (SELECT *,
        |      (0.254829592 * t1 - 0.284496736 * t1 * t1 +
        |       1.421413741 * t1 * t1 * t1 - 1.453152027 * t1 * t1 *
        |       t1 * t1 + 1.061405429 * t1 * t1 * t1 * t1 * t1) *
        |       exp(-x1 * x1) / 2 AS h1,
        |      (0.254829592 * t2 - 0.284496736 * t2 * t2 +
        |       1.421413741 * t2 * t2 * t2 - 1.453152027 * t2 * t2 *
        |       t2 * t2 + 1.061405429 * t2 * t2 * t2 * t2 * t2) *
        |       exp(-x2 * x2) / 2 AS h2
        |    FROM ps))
        |SELECT na AS n_building, nb AS n_machinery,
        |  round(diff, 2) AS diff_dollars, round(se, 2) AS se,
        |  round(p_lower, 6) AS p_lower, round(p_upper, 6) AS p_upper,
        |  greatest(round(p_lower, 6), round(p_upper, 6)) AS p_tost,
        |  greatest(round(p_lower, 6), round(p_upper, 6)) < 0.05
        |    AS equivalent
        |FROM pv""".stripMargin,

    "q348_rmst" ->
      """WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT date_diff('day', first, last) AS dur,
        |    date_diff('day', last, mx) > 90 AS event
        |  FROM (SELECT min(o_orderdate) AS first,
        |      max(o_orderdate) AS last
        |    FROM orders GROUP BY o_custkey) CROSS JOIN maxd),
        |bydur AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_events
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total
        |  FROM bydur),
        |risk AS (SELECT dur, d_events,
        |    n_total - (CAST(sum(c_all) OVER (ORDER BY dur) AS BIGINT)
        |      - c_all) AS n_risk
        |  FROM bydur CROSS JOIN tot),
        |surv AS (SELECT dur,
        |    exp(sum(ln(CAST(n_risk - d_events AS DOUBLE) / n_risk))
        |      OVER (ORDER BY dur)) AS s
        |  FROM risk WHERE d_events > 0 AND n_risk > d_events),
        |steps AS (SELECT dur, s,
        |    coalesce(lag(dur) OVER (ORDER BY dur), 0) AS pd,
        |    coalesce(lag(s) OVER (ORDER BY dur), 1.0) AS ps
        |  FROM surv WHERE dur <= 365),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_steps,
        |    sum(ps * CAST(dur - pd AS DOUBLE)) AS area,
        |    CAST(max(dur) AS BIGINT) AS last_t
        |  FROM steps),
        |slast AS (SELECT s AS s_last FROM steps
        |  ORDER BY dur DESC LIMIT 1)
        |SELECT CAST(365 AS BIGINT) AS tau_days, n_steps,
        |  round(area + s_last * CAST(365 - last_t AS DOUBLE), 4)
        |    AS rmst_days
        |FROM agg CROSS JOIN slast""".stripMargin,

    "q349_capture_recapture" ->
      """WITH flags AS (SELECT o_custkey,
        |    CAST(max(CASE WHEN year(o_orderdate) = 1995 THEN 1
        |      ELSE 0 END) AS BIGINT) AS a,
        |    CAST(max(CASE WHEN year(o_orderdate) = 1996 THEN 1
        |      ELSE 0 END) AS BIGINT) AS b
        |  FROM orders GROUP BY 1),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_ever,
        |    CAST(sum(a) AS BIGINT) AS n1,
        |    CAST(sum(b) AS BIGINT) AS n2,
        |    CAST(sum(a * b) AS BIGINT) AS m
        |  FROM flags)
        |SELECT n_ever, n1, n2, m,
        |  round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 2)
        |    AS n_hat_chapman,
        |  round(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) *
        |    (n2 - m) / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2))),
        |    2) AS se
        |FROM c""".stripMargin,

    "q350_xirr_bisection" -> {
      // 30 generated bisection CTEs — the same fixed-operand NPV
      // expression and interval update the engine folds
      val npvExpr = (1 to 12).foldLeft("CAST(c0 AS DOUBLE) * -1.0")(
        (acc, mm) => s"$acc + cf$mm / power(mid + 1.0, $mm.0)")
      val cfCols = (1 to 12).map(mm => s"cf$mm").mkString(", ")
      val rawAggs = (1 to 12).map(mm =>
        s"CAST(sum(CASE WHEN month(o_orderdate) = $mm THEN " +
          s"CAST(floor(o_totalprice) AS BIGINT) ELSE 0 END) // 1000 " +
          s"AS BIGINT) AS cf$mm").mkString(",\n    ")
      val steps = (1 to 30).map { k =>
        s"""b$k AS (SELECT sg, c0, $cfCols,
           |    CASE WHEN pos THEN mid ELSE lo END AS lo,
           |    CASE WHEN pos THEN hi ELSE mid END AS hi
           |  FROM (SELECT *, ($npvExpr) > 0 AS pos
           |    FROM (SELECT *, (lo + hi) / 2 AS mid FROM b${k - 1})))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH seg AS (SELECT o_orderdate, o_totalprice, c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |c0t AS (SELECT c_mktsegment AS sg,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
        |      AS BIGINT) AS c0
        |  FROM seg WHERE year(o_orderdate) = 1996
        |    AND month(o_orderdate) >= 7 GROUP BY 1),
        |cf AS (SELECT c_mktsegment AS sg,
        |    $rawAggs
        |  FROM seg WHERE year(o_orderdate) = 1997 GROUP BY 1),
        |b0 AS (SELECT c0t.sg, c0, $cfCols, 0.0 AS lo, 1.0 AS hi
        |  FROM c0t JOIN cf ON c0t.sg = cf.sg),
        |$steps
        |SELECT sg AS segment, c0 AS c0_kusd,
        |  ${(1 to 12).map(mm => s"cf$mm").mkString(" + ")}
        |    AS total_return_kusd,
        |  round((lo + hi) / 2, 8) AS irr_monthly,
        |  round(power(round((lo + hi) / 2, 8) + 1.0, 12.0) - 1.0, 6)
        |    AS irr_annual
        |FROM b30 ORDER BY segment""".stripMargin
    },

    "q351_var_es" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, cents FROM daily),
        |df AS (SELECT a.i, a.cents - b.cents AS d
        |  FROM ix a JOIN ix b ON a.i = b.i + 1),
        |rk AS (SELECT d, CAST(row_number() OVER (ORDER BY d, i)
        |    AS BIGINT) AS rk FROM df),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(d AS DOUBLE) / 100.0) AS s1,
        |    sum((CAST(d AS DOUBLE) / 100.0) * (CAST(d AS DOUBLE) / 100.0))
        |      AS s2,
        |    sum((CAST(d AS DOUBLE) / 100.0) * (CAST(d AS DOUBLE) / 100.0)
        |      * (CAST(d AS DOUBLE) / 100.0)) AS s3,
        |    sum((CAST(d AS DOUBLE) / 100.0) * (CAST(d AS DOUBLE) / 100.0)
        |      * (CAST(d AS DOUBLE) / 100.0) * (CAST(d AS DOUBLE) / 100.0))
        |      AS s4
        |  FROM df),
        |mo AS (SELECT n, s1 / n AS m, s2, s3, s4 FROM st),
        |ce AS (SELECT n, m,
        |    s2 / n - m * m AS v2,
        |    s3 / n - 3 * m * s2 / n + 2 * m * m * m AS m3,
        |    s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n
        |      - 3 * m * m * m * m AS m4
        |  FROM mo),
        |sh AS (SELECT n, m, sqrt(v2) AS sd,
        |    m3 / pow(v2, 1.5) AS g1,
        |    m4 / (v2 * v2) - 3 AS g2
        |  FROM ce),
        |zc AS (SELECT CAST(-1.6448536269514722 AS DOUBLE) AS z),
        |cf AS (SELECT n, m, sd, g1, g2,
        |    z + (z * z - 1) * g1 / 6
        |      + (z * z * z - 3 * z) * g2 / 24
        |      - (2 * z * z * z - 5 * z) * g1 * g1 / 36 AS zcf
        |  FROM sh CROSS JOIN zc),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    (CAST(count(*) AS BIGINT) + 19) // 20 AS k FROM df),
        |tl AS (SELECT min(kk.nd) AS nd,
        |    CAST(max(rk.d) AS BIGINT) AS var_cents,
        |    avg(CAST(rk.d AS DOUBLE)) AS es_cents
        |  FROM rk CROSS JOIN kk WHERE rk.rk <= kk.k)
        |SELECT tl.nd AS n_diffs,
        |  round(-CAST(tl.var_cents AS DOUBLE) / 100.0, 2) AS var95,
        |  round(-tl.es_cents / 100.0, 2) AS es95,
        |  round(-(cf.m + cf.zcf * cf.sd), 2) AS cf_var95,
        |  round(cf.g1, 4) AS skew, round(cf.g2, 4) AS ex_kurt
        |FROM tl CROSS JOIN cf""".stripMargin,

    "q352_sharpe_sortino" ->
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
        |    sum(value) AS y FROM events GROUP BY 1, 2),
        |ix AS (SELECT et, y, CAST(row_number()
        |    OVER (PARTITION BY et ORDER BY day) AS BIGINT) AS i
        |  FROM daily),
        |df AS (SELECT a.et, a.y - b.y AS d
        |  FROM ix a JOIN ix b ON a.et = b.et AND a.i = b.i + 1),
        |st AS (SELECT et, CAST(count(*) AS BIGINT) AS n_diffs,
        |    sum(d) AS s1, sum(d * d) AS s2,
        |    sum(CASE WHEN d < 0 THEN d * d ELSE 0.0 END) AS sneg
        |  FROM df GROUP BY 1),
        |mo AS (SELECT et, n_diffs, s1 / n_diffs AS m,
        |    sqrt((s2 - s1 * s1 / n_diffs) / (n_diffs - 1)) AS sd,
        |    sqrt(sneg / n_diffs) AS dd
        |  FROM st)
        |SELECT et, n_diffs, round(m, 2) AS mean_diff,
        |  round(m / sd * sqrt(252.0), 4) AS sharpe,
        |  round(m / dd * sqrt(252.0), 4) AS sortino
        |FROM mo ORDER BY et""".stripMargin,

    "q353_mann_kendall" ->
      """WITH weekly AS (SELECT
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS wk,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |pr AS (SELECT a.wk AS w1, b.wk AS w2, b.c - a.c AS dv,
        |    b.wk - a.wk AS dt
        |  FROM weekly a JOIN weekly b ON a.wk < b.wk),
        |ss AS (SELECT CAST(sum(CASE WHEN dv > 0 THEN 1
        |      WHEN dv < 0 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
        |    CAST(count(*) AS BIGINT) AS m FROM pr),
        |ti AS (SELECT CAST(sum(tc) AS BIGINT) AS n,
        |    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tcor
        |  FROM (SELECT c, CAST(count(*) AS BIGINT) AS tc
        |        FROM weekly GROUP BY 1)),
        |sl AS (SELECT w1, w2, CAST(floor(1000000.0 * CAST(dv AS DOUBLE)
        |    / (100.0 * CAST(dt AS DOUBLE))) AS BIGINT) AS sl FROM pr),
        |rk AS (SELECT sl, CAST(row_number()
        |    OVER (ORDER BY sl, w1, w2) AS BIGINT) AS rk FROM sl),
        |md AS (SELECT avg(CAST(rk.sl AS DOUBLE)) AS med_micro
        |  FROM rk CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS mm
        |                      FROM sl) t
        |  WHERE rk.rk = (t.mm + 1) // 2 OR rk.rk = (t.mm + 2) // 2),
        |vv AS (SELECT ti.n AS n_weeks, ss.s_stat,
        |    (CAST(ti.n AS DOUBLE) * (ti.n - 1) * (2 * ti.n + 5) - ti.tcor)
        |      / 18.0 AS var_s,
        |    md.med_micro
        |  FROM ss CROSS JOIN ti CROSS JOIN md),
        |zz AS (SELECT n_weeks, s_stat, round(var_s, 2) AS var_s,
        |    round((s_stat - CASE WHEN s_stat > 0 THEN 1.0
        |      WHEN s_stat < 0 THEN -1.0 ELSE 0.0 END) / sqrt(var_s), 4)
        |      AS z,
        |    round(med_micro / 1000000.0, 4) AS sen_slope
        |  FROM vv)
        |SELECT n_weeks, s_stat, var_s, z, sen_slope,
        |  CASE WHEN z > 1.96 THEN 'increasing'
        |       WHEN z < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM zz""".stripMargin,

    "q354_ljung_box" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y
        |  FROM events GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, y FROM daily),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(y) / count(*) AS mu,
        |    sum(y * y) - sum(y) * sum(y) / count(*) AS denom FROM ix),
        |lg AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS lag),
        |pr AS (SELECT l.lag, a.y AS y, b.y AS y_lag
        |  FROM ix a CROSS JOIN lg l JOIN ix b ON a.i = b.i + l.lag),
        |rs AS (SELECT p.lag, min(st.n) AS n,
        |    sum((p.y - st.mu) * (p.y_lag - st.mu)) / min(st.denom) AS r
        |  FROM pr p CROSS JOIN st GROUP BY 1),
        |qq AS (SELECT min(n) AS n,
        |    min(n) * (min(n) + 2) * sum(r * r / (n - lag)) AS q
        |  FROM rs)
        |SELECT CAST(n AS BIGINT) AS n_days, round(q, 4) AS q_stat,
        |  round(exp(-q / 2) * (1.0 + q / 2 + (q / 2) * (q / 2) / 2
        |    + (q / 2) * (q / 2) * (q / 2) / 6
        |    + (q / 2) * (q / 2) * (q / 2) * (q / 2) / 24), 6) AS p_approx
        |FROM qq""".stripMargin,

    "q355_bartlett" ->
      """WITH g AS (SELECT c_mktsegment AS sg,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sg1,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sg2
        |  FROM customer GROUP BY 1),
        |vr AS (SELECT ng,
        |    (CAST(sg2 AS DOUBLE) - CAST(sg1 AS DOUBLE) * sg1 / ng)
        |      / (ng - 1) AS s2
        |  FROM g),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    sum((ng - 1) * s2) AS ssw,
        |    sum((ng - 1) * ln(s2)) AS sln,
        |    sum(1.0 / (ng - 1)) AS sinv,
        |    max(s2) AS vmax, min(s2) AS vmin
        |  FROM vr),
        |ch AS (SELECT k, n, vmax, vmin,
        |    ((n - k) * ln(ssw / (n - k)) - sln)
        |      / (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))) AS chi2
        |  FROM agg)
        |SELECT n AS n_cust, k AS k_groups,
        |  round(vmax / vmin, 4) AS var_ratio,
        |  round(chi2, 4) AS bartlett_chi2,
        |  round(exp(-chi2 / 2) * (1.0 + chi2 / 2), 6) AS p_approx
        |FROM ch""".stripMargin,

    "q356_cochran_q" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS et
        |  FROM events WHERE value > 95),
        |gj AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(g * g) AS BIGINT) AS sg2
        |  FROM (SELECT et, CAST(count(*) AS BIGINT) AS g
        |        FROM ut GROUP BY 1)),
        |li AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(l) AS BIGINT) AS sl,
        |    CAST(sum(l * l) AS BIGINT) AS sl2
        |  FROM (SELECT u, CAST(count(*) AS BIGINT) AS l
        |        FROM ut GROUP BY 1)),
        |qq AS (SELECT n_users, k AS k_types,
        |    CAST(k - 1 AS DOUBLE) * (k * sg2 - sg * sg)
        |      / (k * sl - sl2) AS q
        |  FROM gj CROSS JOIN li)
        |SELECT n_users, k_types, round(q, 4) AS q_stat,
        |  round(exp(-q / 2) * (1.0 + q / 2), 6) AS p_approx
        |FROM qq""".stripMargin,

    "q357_mood_median" ->
      """WITH base AS (SELECT o_orderpriority AS pr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS ok
        |  FROM orders),
        |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v, ok)
        |    AS BIGINT) AS rk FROM base),
        |med AS (SELECT rk.v AS med FROM rk
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM base) t
        |  WHERE rk.rk = (t.n + 1) // 2),
        |cells AS (SELECT pr, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS above
        |  FROM base CROSS JOIN med GROUP BY 1),
        |tots AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(above) AS BIGINT) AS ta FROM cells),
        |chi AS (SELECT pr, ng, above,
        |    CAST(ng AS DOUBLE) * ta / n AS ea,
        |    CAST(ng AS DOUBLE) * (n - ta) / n AS eb
        |  FROM cells CROSS JOIN tots),
        |co AS (SELECT pr, ng, above,
        |    (above - ea) * (above - ea) / ea +
        |    ((ng - above) - eb) * ((ng - above) - eb) / eb AS contrib
        |  FROM chi),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n, sum(contrib) AS chi2 FROM co)
        |SELECT n AS n_orders, k AS k_groups, round(chi2, 4) AS chi2,
        |  round(exp(-chi2 / 2) * (1.0 + chi2 / 2), 6) AS p_approx
        |FROM st""".stripMargin,

    "q358_jonckheere" ->
      """WITH base AS (SELECT CAST(l_linenumber AS BIGINT) AS grp,
        |    CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |ng AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |grid AS (SELECT g.grp, d.v
        |  FROM (SELECT DISTINCT v FROM base) d
        |  CROSS JOIN (SELECT grp FROM ng) g),
        |gvf AS (SELECT grid.grp, grid.v, coalesce(gv.c, 0) AS c
        |  FROM grid LEFT JOIN gv ON grid.grp = gv.grp
        |    AND grid.v = gv.v),
        |suf AS (SELECT grp, v, c,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS BIGINT) AS gt
        |  FROM gvf),
        |jj AS (SELECT CAST(sum(a.c * (2 * b.gt + b.c)) AS BIGINT) AS j2
        |  FROM gv a JOIN suf b ON a.grp < b.grp AND a.v = b.v),
        |ns AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    sum(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)) AS t2g,
        |    sum(CAST(n AS DOUBLE) * (n - 1) * (n - 2)) AS t3g,
        |    sum(CAST(n AS DOUBLE) * (n - 1)) AS t1g,
        |    sum(CAST(n AS DOUBLE) * n) AS sn2
        |  FROM ng),
        |ts AS (SELECT
        |    sum(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5)) AS t2v,
        |    sum(CAST(t AS DOUBLE) * (t - 1) * (t - 2)) AS t3v,
        |    sum(CAST(t AS DOUBLE) * (t - 1)) AS t1v
        |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS t
        |        FROM base GROUP BY 1)),
        |zz AS (SELECT nn AS n_rows, j2,
        |    (CAST(nn AS DOUBLE) * nn - sn2) / 2 AS mean2,
        |    ((CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
        |        - t2g - t2v) / 72 +
        |      t3g * t3v / (36.0 * nn * (nn - 1) * (nn - 2)) +
        |      t1g * t1v / (8.0 * nn * (nn - 1))) * 4 AS var4
        |  FROM jj CROSS JOIN ns CROSS JOIN ts),
        |fz AS (SELECT n_rows, j2,
        |    round((j2 - mean2) / sqrt(var4), 4) AS z FROM zz)
        |SELECT n_rows, j2, z,
        |  CASE WHEN z > 1.96 THEN 'increasing'
        |       WHEN z < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM fz""".stripMargin,

    "q359_brier_murphy" ->
      s"""WITH $lrCtes,
         |bn AS (SELECT y, p,
         |    CAST(least(floor(p * 10), 9) AS BIGINT) AS bin FROM scored),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
         |    sum((p - y) * (p - y)) AS sq FROM bn),
         |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
         |    sum(p) AS sp, sum(y) AS syk FROM bn GROUP BY 1),
         |dec AS (SELECT min(tot.n) AS n, min(tot.sy) AS sy,
         |    min(tot.sq) AS sq,
         |    sum(nk * (sp / nk - syk / nk) * (sp / nk - syk / nk)) AS rel,
         |    sum(nk * (syk / nk - tot.sy / tot.n)
         |      * (syk / nk - tot.sy / tot.n)) AS res
         |  FROM bins CROSS JOIN tot),
         |fin AS (SELECT n, sq / n AS brier, rel / n AS rel, res / n AS res,
         |    (sy / n) * (1.0 - sy / n) AS unc FROM dec)
         |SELECT n AS n_docs, round(brier, 6) AS brier,
         |  round(rel, 6) AS reliability, round(res, 6) AS resolution,
         |  round(unc, 6) AS uncertainty,
         |  round(brier - (rel - res + unc), 6) AS decomp_gap
         |FROM fin""".stripMargin,

    "q360_ipw_ate" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |cust AS (SELECT c_nationkey AS nk, c_mktsegment AS sg,
        |    CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS tr,
        |    CAST(coalesce(yc, 0) AS BIGINT) AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |strata AS (SELECT nk, sg, CAST(count(*) AS BIGINT) AS ns,
        |    CAST(sum(tr) AS BIGINT) AS nt
        |  FROM cust GROUP BY 1, 2),
        |kept AS (SELECT nk, sg, CAST(nt AS DOUBLE) / ns AS e
        |  FROM strata WHERE nt > 0 AND nt < ns),
        |wtd AS (SELECT tr, y,
        |    CASE WHEN tr = 1 THEN 1.0 / e ELSE 1.0 / (1.0 - e) END AS w
        |  FROM cust JOIN kept USING (nk, sg)),
        |eff AS (SELECT CAST(count(*) AS BIGINT) AS n_cust,
        |    sum(CASE WHEN tr = 1 THEN w ELSE 0.0 END) AS wt,
        |    sum(CASE WHEN tr = 1 THEN w * y ELSE 0.0 END) AS wty,
        |    sum(CASE WHEN tr = 0 THEN w ELSE 0.0 END) AS wc,
        |    sum(CASE WHEN tr = 0 THEN w * y ELSE 0.0 END) AS wcy,
        |    CAST(sum(tr) AS BIGINT) AS ntr,
        |    CAST(sum(CASE WHEN tr = 1 THEN y ELSE 0 END) AS BIGINT)
        |      AS syt,
        |    CAST(sum(CASE WHEN tr = 0 THEN y ELSE 0 END) AS BIGINT)
        |      AS syc
        |  FROM wtd),
        |ks AS (SELECT CAST(count(*) AS BIGINT) AS n_strata FROM kept),
        |dr AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped
        |  FROM strata WHERE nt = 0 OR nt = ns)
        |SELECT n_cust, n_strata, n_dropped,
        |  round((wty / wt - wcy / wc) / 100.0, 2) AS ate_ipw,
        |  round((CAST(syt AS DOUBLE) / ntr
        |    - CAST(syc AS DOUBLE) / (n_cust - ntr)) / 100.0, 2)
        |    AS ate_naive
        |FROM eff CROSS JOIN ks CROSS JOIN dr""".stripMargin,

    "q361_horvitz_thompson" -> {
      val kh = graft.ops.Sampling.keyHashSql("ok")
      s"""WITH x AS (SELECT o_orderkey AS ok,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
         |  FROM orders),
         |tot AS (SELECT CAST(sum(x) AS BIGINT) AS tx FROM x),
         |li AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1),
         |samp AS (SELECT x.ok,
         |    least(1.0, CAST(x.x AS DOUBLE) * 2000.0 / tot.tx) AS pi,
         |    li.cnt
         |  FROM x CROSS JOIN tot JOIN li ON x.ok = li.l_orderkey
         |  WHERE (($kh) + 0.5) / 4294967296.0
         |    < least(1.0, CAST(x.x AS DOUBLE) * 2000.0 / tot.tx)),
         |tr AS (SELECT CAST(sum(cnt) AS BIGINT) AS true_total FROM li),
         |ht AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         |    sum(CAST(cnt AS DOUBLE) / pi) AS ht FROM samp)
         |SELECT n_sampled, round(ht, 2) AS ht_est, true_total,
         |  round(abs(ht - true_total) / true_total, 4) AS rel_err
         |FROM ht CROSS JOIN tr""".stripMargin
    },

    "q362_lilliefors" ->
      """WITH base AS (SELECT
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
        |    c_custkey AS ck FROM customer),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS DOUBLE) / count(*) / 100.0 AS m,
        |    sqrt((CAST(sum(v * v) AS DOUBLE)
        |      - CAST(sum(v) AS DOUBLE) * sum(v) / count(*))
        |      / (count(*) - 1)) / 100.0 AS sd
        |  FROM base),
        |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v, ck)
        |    AS BIGINT) AS i FROM base),
        |zz AS (SELECT i, n,
        |    (CAST(v AS DOUBLE) / 100.0 - m) / sd AS z
        |  FROM rk CROSS JOIN mom),
        |ph AS (SELECT i, n, z, abs(z) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
        |  FROM zz),
        |pp AS (SELECT i, n,
        |    CASE WHEN z >= 0 THEN 1.0 - (0.254829592 * t
        |        - 0.284496736 * t * t + 1.421413741 * t * t * t
        |        - 1.453152027 * t * t * t * t
        |        + 1.061405429 * t * t * t * t * t) * exp(-x * x) / 2
        |      ELSE (0.254829592 * t - 0.284496736 * t * t
        |        + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
        |        + 1.061405429 * t * t * t * t * t) * exp(-x * x) / 2
        |      END AS phi
        |  FROM ph),
        |dd AS (SELECT min(n) AS n,
        |    max(greatest(CAST(i AS DOUBLE) / n - phi,
        |      phi - CAST(i - 1 AS DOUBLE) / n)) AS d
        |  FROM pp)
        |SELECT n AS n_cust, round(d, 6) AS d_stat,
        |  round(0.886 / sqrt(CAST(n AS DOUBLE)), 6) AS crit_05,
        |  d > 0.886 / sqrt(CAST(n AS DOUBLE)) AS rejected
        |FROM dd""".stripMargin,

    "q363_yule_walker_ar2" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, y FROM daily),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(y) / count(*) AS mu,
        |    sum(y * y) - sum(y) * sum(y) / count(*) AS denom FROM ix),
        |tri AS (SELECT a.y AS y, b.y AS y1, c.y AS y2
        |  FROM ix a JOIN ix b ON a.i = b.i + 1
        |    JOIN ix c ON a.i = c.i + 2),
        |rs AS (SELECT min(st.n) AS n, min(st.mu) AS mu,
        |    sum((y - st.mu) * (y1 - st.mu)) / min(st.denom) AS r1,
        |    sum((y - st.mu) * (y2 - st.mu)) / min(st.denom) AS r2
        |  FROM tri CROSS JOIN st),
        |ph AS (SELECT n, mu, r1, r2,
        |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS p1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
        |  FROM rs),
        |bt AS (SELECT min(ph.n) AS n, min(ph.p1) AS p1,
        |    min(ph.p2) AS p2,
        |    CAST(count(*) AS BIGINT) AS n_steps,
        |    sqrt(avg((y - (ph.mu + ph.p1 * (y1 - ph.mu)
        |      + ph.p2 * (y2 - ph.mu)))
        |      * (y - (ph.mu + ph.p1 * (y1 - ph.mu)
        |      + ph.p2 * (y2 - ph.mu))))) AS rmse_ar2,
        |    sqrt(avg((y - y1) * (y - y1))) AS rmse_naive
        |  FROM tri CROSS JOIN ph)
        |SELECT CAST(n AS BIGINT) AS n_days, n_steps,
        |  round(p1, 6) AS phi1, round(p2, 6) AS phi2,
        |  round(rmse_ar2, 2) AS rmse_ar2,
        |  round(rmse_naive, 2) AS rmse_naive
        |FROM bt""".stripMargin,

    "q364_holt_trend" ->
      """WITH q AS (SELECT (year(CAST(o_orderdate AS DATE)) - 1992) * 4
        |      + (month(CAST(o_orderdate AS DATE)) - 1) // 3 AS t,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS DOUBLE)
        |      / 1000.0 AS y
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(r.range AS BIGINT) AS t,
        |    coalesce(q.y, 0.0) AS y
        |  FROM range(27) r LEFT JOIN q ON q.t = r.range),
        |base AS (SELECT a.y AS y0, b.y AS y1 FROM g a CROSS JOIN g b
        |  WHERE a.t = 0 AND b.t = 1)
        |SELECT CAST(27 AS BIGINT) AS n_quarters, round(l, 2) AS level_kusd,
        |  round(b, 2) AS trend_kusd, round(l + b, 2) AS forecast_kusd,
        |  round(sae / 26.0, 2) AS mae_kusd
        |FROM (
        |  WITH RECURSIVE h(t, l, b, sae) AS (
        |    SELECT CAST(0 AS BIGINT), y0, y1 - y0,
        |      CAST(0.0 AS DOUBLE) FROM base
        |    UNION ALL
        |    SELECT h.t + 1,
        |      0.3 * g.y + 0.7 * (h.l + h.b),
        |      0.1 * ((0.3 * g.y + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b,
        |      h.sae + abs(g.y - (h.l + h.b))
        |    FROM h JOIN g ON g.t = h.t + 1 WHERE h.t < 26)
        |  SELECT l, b, sae FROM h WHERE t = 26)""".stripMargin,

    "q365_pacf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y
        |  FROM events GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, y FROM daily),
        |st AS (SELECT sum(y) / count(*) AS mu,
        |    sum(y * y) - sum(y) * sum(y) / count(*) AS denom FROM ix),
        |lg AS (SELECT unnest([1, 2, 3, 4, 5]) AS lag),
        |pr AS (SELECT l.lag, a.y AS y, b.y AS y_lag
        |  FROM ix a CROSS JOIN lg l JOIN ix b ON a.i = b.i + l.lag),
        |rw AS (SELECT p.lag,
        |    sum((p.y - st.mu) * (p.y_lag - st.mu)) / min(st.denom) AS r
        |  FROM pr p CROSS JOIN st GROUP BY 1),
        |rr AS (SELECT
        |    max(CASE WHEN lag = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag = 2 THEN r END) AS r2,
        |    max(CASE WHEN lag = 3 THEN r END) AS r3,
        |    max(CASE WHEN lag = 4 THEN r END) AS r4,
        |    max(CASE WHEN lag = 5 THEN r END) AS r5
        |  FROM rw),
        |s2 AS (SELECT *, r1 AS p11 FROM rr),
        |s3a AS (SELECT *,
        |    (r2 - p11 * r1) / (1.0 - p11 * r1) AS p22 FROM s2),
        |s3 AS (SELECT *, p11 - p22 * p11 AS p21 FROM s3a),
        |s4a AS (SELECT *,
        |    (r3 - p21 * r2 - p22 * r1)
        |      / (1.0 - p21 * r1 - p22 * r2) AS p33 FROM s3),
        |s4 AS (SELECT *, p21 - p33 * p22 AS p31,
        |    p22 - p33 * p21 AS p32 FROM s4a),
        |s5a AS (SELECT *,
        |    (r4 - p31 * r3 - p32 * r2 - p33 * r1)
        |      / (1.0 - p31 * r1 - p32 * r2 - p33 * r3) AS p44 FROM s4),
        |s5 AS (SELECT *, p31 - p44 * p33 AS p41,
        |    p32 - p44 * p32 AS p42, p33 - p44 * p31 AS p43 FROM s5a),
        |s6 AS (SELECT *,
        |    (r5 - p41 * r4 - p42 * r3 - p43 * r2 - p44 * r1)
        |      / (1.0 - p41 * r1 - p42 * r2 - p43 * r3 - p44 * r4)
        |      AS p55 FROM s5)
        |SELECT round(p11, 6) AS pacf_1, round(p22, 6) AS pacf_2,
        |  round(p33, 6) AS pacf_3, round(p44, 6) AS pacf_4,
        |  round(p55, 6) AS pacf_5
        |FROM s6""".stripMargin,

    "q366_permutation_entropy" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, c FROM daily),
        |tri AS (SELECT a.c AS c, b.c AS c1, d.c AS c2
        |  FROM ix a JOIN ix b ON b.i = a.i + 1
        |    JOIN ix d ON d.i = a.i + 2),
        |coded AS (SELECT CAST(
        |    (CASE WHEN c1 > c THEN 4 ELSE 0 END)
        |    + (CASE WHEN c2 > c THEN 2 ELSE 0 END)
        |    + (CASE WHEN c2 > c1 THEN 1 ELSE 0 END) AS BIGINT) AS code
        |  FROM tri),
        |cnt AS (SELECT code, CAST(count(*) AS BIGINT) AS k
        |  FROM coded GROUP BY 1),
        |tot AS (SELECT CAST(sum(k) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_patterns FROM cnt),
        |ent AS (SELECT tot.n, tot.n_patterns, cnt.code, cnt.k,
        |    CAST(cnt.k AS DOUBLE) / tot.n AS p
        |  FROM cnt CROSS JOIN tot),
        |top AS (SELECT code AS top_code, round(p, 4) AS top_share
        |  FROM ent ORDER BY k DESC, code LIMIT 1),
        |hh AS (SELECT min(n) AS n, min(n_patterns) AS n_patterns,
        |    -sum(p * ln(p)) / ln(6.0) AS h FROM ent)
        |SELECT hh.n AS n_triples, hh.n_patterns,
        |  round(hh.h, 6) AS h_norm, top.top_code, top.top_share
        |FROM hh CROSS JOIN top""".stripMargin,

    "q367_silhouette" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |cent AS (SELECT label AS cl, i, avg(v) AS c
        |  FROM e GROUP BY 1, 2),
        |d2 AS (SELECT e.vec_id, e.label, cent.cl,
        |    sum((e.v - cent.c) * (e.v - cent.c)) AS dd
        |  FROM e JOIN cent ON e.i = cent.i
        |  GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    max(CASE WHEN label = cl THEN sqrt(dd) END) AS a,
        |    min(CASE WHEN label <> cl THEN sqrt(dd) END) AS b
        |  FROM d2 GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg((b - a) / greatest(a, b)), 4) AS mean_sil
        |FROM ab GROUP BY 1 ORDER BY 1""".stripMargin,

    "q368_davies_bouldin" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |cent AS (SELECT label, i, avg(v) AS c FROM e GROUP BY 1, 2),
        |scat AS (SELECT label, avg(d) AS sc FROM (
        |    SELECT e.vec_id, e.label,
        |      sqrt(sum((e.v - cent.c) * (e.v - cent.c))) AS d
        |    FROM e JOIN cent ON e.label = cent.label AND e.i = cent.i
        |    GROUP BY 1, 2) GROUP BY 1),
        |cd AS (SELECT x.label AS la, y.label AS lb,
        |    sqrt(sum((x.c - y.c) * (x.c - y.c))) AS m
        |  FROM cent x JOIN cent y ON x.i = y.i AND x.label <> y.label
        |  GROUP BY 1, 2),
        |rij AS (SELECT cd.la, cd.lb, (sa.sc + sb.sc) / cd.m AS r
        |  FROM cd JOIN scat sa ON sa.label = cd.la
        |    JOIN scat sb ON sb.label = cd.lb),
        |worst AS (SELECT la, max(r) AS rmax FROM rij GROUP BY 1),
        |top AS (SELECT la AS worst_a, lb AS worst_b FROM rij
        |  ORDER BY round(r, 6) DESC, la, lb LIMIT 1),
        |fin AS (SELECT CAST(count(*) AS BIGINT) AS n_labels,
        |    round(avg(rmax), 4) AS db_index FROM worst)
        |SELECT fin.n_labels, fin.db_index, top.worst_a, top.worst_b
        |FROM fin CROSS JOIN top""".stripMargin,

    "q369_eoq_safety_stock" ->
      """WITH li AS (SELECT p.p_brand AS brand,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l.l_shipdate AS DATE)) AS BIGINT) // 7 AS wk,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |wkq AS (SELECT brand, wk, CAST(sum(q) AS BIGINT) AS wq
        |  FROM li GROUP BY 1, 2),
        |grid AS (SELECT b.brand, w.wk
        |  FROM (SELECT DISTINCT brand FROM li) b
        |  CROSS JOIN (SELECT DISTINCT wk FROM li) w),
        |filled AS (SELECT grid.brand, grid.wk,
        |    coalesce(wkq.wq, 0) AS wq
        |  FROM grid LEFT JOIN wkq ON grid.brand = wkq.brand
        |    AND grid.wk = wkq.wk),
        |st AS (SELECT brand, CAST(count(*) AS BIGINT) AS nw,
        |    CAST(sum(wq) AS BIGINT) AS s1,
        |    CAST(sum(wq * wq) AS BIGINT) AS s2
        |  FROM filled GROUP BY 1),
        |mo AS (SELECT brand, nw,
        |    CAST(s1 AS DOUBLE) / nw AS mw,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nw)
        |      / (nw - 1)) AS sdw,
        |    CAST(s1 AS DOUBLE) * 52.0 / nw AS d_annual
        |  FROM st)
        |SELECT brand, nw AS n_weeks, round(d_annual, 1) AS d_annual,
        |  round(sqrt(2.0 * d_annual * 100.0 / 2.0), 2) AS eoq,
        |  round(1.6448536269514722 * sdw * sqrt(2.0), 2)
        |    AS safety_stock,
        |  round(mw * 2.0 + 1.6448536269514722 * sdw * sqrt(2.0), 2)
        |    AS reorder_point
        |FROM mo ORDER BY brand""".stripMargin,

    "q370_bass_diffusion" ->
      """WITH firsts AS (SELECT o_custkey,
        |    CAST(min(CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7) AS BIGINT)
        |      AS wk
        |  FROM orders GROUP BY 1),
        |adopt AS (SELECT wk, CAST(count(*) AS BIGINT) AS nt
        |  FROM firsts GROUP BY 1),
        |cum AS (SELECT wk, nt,
        |    CAST(sum(nt) OVER (ORDER BY wk) - nt AS BIGINT) AS nprev
        |  FROM adopt),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS nw,
        |    sum(CAST(nprev AS DECIMAL(18,0))) AS sx,
        |    sum(CAST(nprev * nprev AS DECIMAL(18,0))) AS sx2,
        |    sum(CAST(nprev * nprev AS DECIMAL(18,0))
        |      * CAST(nprev AS DECIMAL(18,0))) AS sx3,
        |    sum(CAST(nprev * nprev AS DECIMAL(18,0))
        |      * CAST(nprev * nprev AS DECIMAL(18,0))) AS sx4,
        |    sum(CAST(nt AS DECIMAL(18,0))) AS sy,
        |    sum(CAST(nt * nprev AS DECIMAL(18,0))) AS sxy,
        |    sum(CAST(nt * nprev AS DECIMAL(18,0))
        |      * CAST(nprev AS DECIMAL(18,0))) AS sx2y
        |  FROM cum),
        |sol AS (SELECT nw, CAST(nw AS DOUBLE) AS m00,
        |    CAST(sx AS DOUBLE) AS m01, CAST(sx2 AS DOUBLE) AS m02,
        |    CAST(sx3 AS DOUBLE) AS m13, CAST(sx4 AS DOUBLE) AS m23,
        |    CAST(sy AS DOUBLE) AS b0, CAST(sxy AS DOUBLE) AS b1,
        |    CAST(sx2y AS DOUBLE) AS b2
        |  FROM mo),
        |dets AS (SELECT nw,
        |    m00 * (m02 * m23 - m13 * m13)
        |      - m01 * (m01 * m23 - m13 * m02)
        |      + m02 * (m01 * m13 - m02 * m02) AS dd,
        |    b0 * (m02 * m23 - m13 * m13)
        |      - m01 * (b1 * m23 - m13 * b2)
        |      + m02 * (b1 * m13 - m02 * b2) AS da,
        |    m00 * (b1 * m23 - m13 * b2)
        |      - b0 * (m01 * m23 - m13 * m02)
        |      + m02 * (m01 * b2 - b1 * m02) AS db,
        |    m00 * (m02 * b2 - b1 * m13)
        |      - m01 * (m01 * b2 - b1 * m02)
        |      + b0 * (m01 * m13 - m02 * m02) AS dc
        |  FROM sol),
        |abc AS (SELECT nw AS n_weeks, da / dd AS a, db / dd AS b,
        |    dc / dd AS c FROM dets)
        |SELECT n_weeks, round(a, 4) AS a, round(b, 6) AS b,
        |  round(c, 8) AS c,
        |  CASE WHEN c < 0 THEN round((-b - sqrt(b * b - 4.0 * a * c))
        |    / (2.0 * c), 1) END AS m_est,
        |  CASE WHEN c < 0 THEN round(a / ((-b - sqrt(b * b
        |    - 4.0 * a * c)) / (2.0 * c)), 6) END AS p_innov,
        |  CASE WHEN c < 0 THEN round(-c * ((-b - sqrt(b * b
        |    - 4.0 * a * c)) / (2.0 * c)), 6) END AS q_imit
        |FROM abc""".stripMargin,

    "q371_page_trend" ->
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS seg
        |  FROM customer),
        |sidx AS (SELECT seg, CAST(row_number() OVER (ORDER BY seg)
        |    AS BIGINT) AS j FROM segs),
        |grid AS (SELECT n_nationkey AS nk, seg
        |  FROM nation CROSS JOIN segs),
        |sums AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sv
        |  FROM customer GROUP BY 1, 2),
        |cells AS (SELECT grid.nk, grid.seg, coalesce(sums.sv, 0) AS v
        |  FROM grid LEFT JOIN sums ON grid.nk = sums.nk
        |    AND grid.seg = sums.seg),
        |ranked AS (SELECT a.nk, a.seg,
        |    2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
        |    + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS ar2
        |  FROM cells a JOIN cells b ON a.nk = b.nk GROUP BY 1, 2),
        |ll AS (SELECT CAST(sum(j * ar2) AS BIGINT) AS l2
        |  FROM ranked JOIN sidx USING (seg)),
        |bk AS (SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b,
        |    CAST(count(DISTINCT seg) AS BIGINT) AS k FROM cells),
        |zz AS (SELECT b AS n_blocks, k AS k_treatments, l2,
        |    (l2 - CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 2) /
        |      sqrt(CAST(b AS DOUBLE) * k * k * (k + 1) * (k + 1)
        |        * (k - 1) / 36) AS zr
        |  FROM ll CROSS JOIN bk)
        |SELECT n_blocks, k_treatments, l2, round(zr, 4) AS z,
        |  CASE WHEN zr > 1.645 THEN 'upward_trend'
        |       WHEN zr < -1.645 THEN 'downward_trend'
        |       ELSE 'no_trend' END AS verdict
        |FROM zz""".stripMargin,

    "q372_ansari_bradley" ->
      """WITH base AS (SELECT
        |    CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
        |      THEN 1 ELSE 0 END AS ga,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS ok
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        |rk AS (SELECT ga, CAST(row_number() OVER (ORDER BY v, ok)
        |    AS BIGINT) AS rk FROM base),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ga) AS BIGINT) AS na FROM base),
        |ab AS (SELECT min(nn.n) AS n, min(nn.na) AS na,
        |    CAST(sum(rk.ga * least(rk.rk, nn.n + 1 - rk.rk)) AS BIGINT)
        |      AS ab
        |  FROM rk CROSS JOIN nn),
        |zz AS (SELECT na AS n_1995, n - na AS n_1996, ab AS ab_stat,
        |    CASE WHEN n % 2 = 0 THEN
        |      (ab - CAST(na AS DOUBLE) * (n + 2) / 4) /
        |      sqrt(CAST(na AS DOUBLE) * (n - na) * (n + 2) * (n - 2)
        |        / (48.0 * (n - 1)))
        |    ELSE
        |      (ab - CAST(na AS DOUBLE) * (n + 1) * (n + 1) / (4.0 * n)) /
        |      sqrt(CAST(na AS DOUBLE) * (n - na) * (n + 1)
        |        * (3.0 + CAST(n AS DOUBLE) * n)
        |        / (48.0 * CAST(n AS DOUBLE) * n))
        |    END AS zr
        |  FROM ab)
        |SELECT n_1995, n_1996, ab_stat, round(zr, 4) AS z,
        |  CASE WHEN zr > 1.96 THEN 'less_dispersed_1995'
        |       WHEN zr < -1.96 THEN 'more_dispersed_1995'
        |       ELSE 'no_change' END AS verdict
        |FROM zz""".stripMargin,

    "q373_chow_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders GROUP BY 1),
        |pts AS (SELECT CAST(date_diff('day', DATE '1992-01-01', day)
        |      AS DOUBLE) AS tt, y,
        |    CASE WHEN day < DATE '1995-01-01' THEN 1 ELSE 2 END AS seg
        |  FROM daily),
        |pm AS (SELECT seg AS g, CAST(count(*) AS DOUBLE) AS n,
        |    sum(tt) AS st, sum(tt * tt) AS stt, sum(y) AS sy,
        |    sum(y * y) AS syy, sum(tt * y) AS sty
        |  FROM pts GROUP BY 1),
        |ps AS (SELECT g, n,
        |    syy - sy * sy / n - (sty - st * sy / n) * (sty - st * sy / n)
        |      / (stt - st * st / n) AS ssr
        |  FROM pm),
        |qm AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(tt) AS st,
        |    sum(tt * tt) AS stt, sum(y) AS sy, sum(y * y) AS syy,
        |    sum(tt * y) AS sty
        |  FROM pts),
        |qs AS (SELECT
        |    syy - sy * sy / n - (sty - st * sy / n) * (sty - st * sy / n)
        |      / (stt - st * st / n) AS ssrp
        |  FROM qm),
        |ag AS (SELECT sum(ssr) AS ssr12, sum(n) AS n FROM ps),
        |ff AS (SELECT CAST(ag.n AS BIGINT) AS n_days,
        |    round(qs.ssrp / 1e6, 2) AS ssr_pooled_m,
        |    round(ag.ssr12 / 1e6, 2) AS ssr_split_m,
        |    ((qs.ssrp - ag.ssr12) / 2) / (ag.ssr12 / (ag.n - 4)) AS f,
        |    ag.n AS nd
        |  FROM ag CROSS JOIN qs)
        |SELECT n_days, ssr_pooled_m, ssr_split_m,
        |  round(f, 4) AS chow_f,
        |  round(pow(1.0 + 2 * f / (nd - 4), -(nd - 4) / 2), 6)
        |    AS p_value
        |FROM ff""".stripMargin,

    "q374_breusch_pagan" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders GROUP BY 1),
        |pts AS (SELECT CAST(date_diff('day', DATE '1992-01-01', day)
        |    AS DOUBLE) AS tt, y FROM daily),
        |m1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(tt) AS st,
        |    sum(tt * tt) AS stt, sum(y) AS sy, sum(tt * y) AS sty
        |  FROM pts),
        |m2 AS (SELECT n,
        |    (sty - st * sy / n) / (stt - st * st / n) AS beta, st, sy
        |  FROM m1),
        |m3 AS (SELECT n, beta, (sy - beta * st) / n AS alpha FROM m2),
        |res AS (SELECT tt,
        |    (y - m3.alpha - m3.beta * tt) * (y - m3.alpha - m3.beta * tt)
        |      AS u
        |  FROM pts CROSS JOIN m3),
        |lm0 AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(tt) AS st,
        |    sum(tt * tt) AS stt, sum(u) AS su, sum(u * u) AS suu,
        |    sum(tt * u) AS stu
        |  FROM res),
        |lm1 AS (SELECT n,
        |    (stu - st * su / n) * (stu - st * su / n)
        |      / ((stt - st * st / n) * (suu - su * su / n)) AS r2
        |  FROM lm0),
        |lm2 AS (SELECT n, n * r2 AS lm FROM lm1),
        |pp AS (SELECT n, lm, sqrt(lm) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (sqrt(lm) / sqrt(2.0))) AS t
        |  FROM lm2)
        |SELECT CAST(n AS BIGINT) AS n_days, round(lm, 4) AS lm_stat,
        |  round((0.254829592 * t - 0.284496736 * t * t
        |    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
        |    + 1.061405429 * t * t * t * t * t) * exp(-x * x), 6)
        |    AS p_value
        |FROM pp""".stripMargin,

    "q375_jarque_bera" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders GROUP BY 1),
        |pts AS (SELECT CAST(date_diff('day', DATE '1992-01-01', day)
        |    AS DOUBLE) AS tt, y FROM daily),
        |m1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(tt) AS st,
        |    sum(tt * tt) AS stt, sum(y) AS sy, sum(tt * y) AS sty
        |  FROM pts),
        |m2 AS (SELECT n,
        |    (sty - st * sy / n) / (stt - st * st / n) AS beta, st, sy
        |  FROM m1),
        |m3 AS (SELECT n, beta, (sy - beta * st) / n AS alpha FROM m2),
        |res AS (SELECT (y - m3.alpha - m3.beta * tt) AS e
        |  FROM pts CROSS JOIN m3),
        |jm AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(e) AS s1,
        |    sum(e * e) AS s2, sum(e * e * e) AS s3,
        |    sum(e * e * e * e) AS s4
        |  FROM res),
        |jc AS (SELECT n, s2 / n AS v2, s3 / n AS m3, s4 / n AS m4
        |  FROM jm),
        |jg AS (SELECT n, m3 / pow(v2, 1.5) AS g1,
        |    m4 / (v2 * v2) - 3 AS g2 FROM jc),
        |jb AS (SELECT n, g1, g2,
        |    n / 6 * (g1 * g1 + g2 * g2 / 4) AS jb FROM jg)
        |SELECT CAST(n AS BIGINT) AS n_days, round(g1, 4) AS skew,
        |  round(g2, 4) AS ex_kurt, round(jb, 4) AS jb_stat,
        |  round(exp(-jb / 2), 6) AS p_value
        |FROM jb""".stripMargin

  )
}
