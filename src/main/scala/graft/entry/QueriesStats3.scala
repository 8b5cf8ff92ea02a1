package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF, UrlFunctions => UF, VectorFunctions => VF}
import graft.llm.{Bpe, Dedup, Multimodal, Pq, Search, Similarity}
import graft.EntryShared._

/** Statistics gallery III — queueing, spatial stats, clustering diagnostics, finance/risk: q451-q525.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesStats3 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q451_pvm_variance" -> ((s, dir) => {
      // price-volume-mix variance decomposition of the 1995→1996 brand
      // revenue change (FP&A's PVM bridge; q441's LMDI splits aggregate
      // drivers — this splits per-product price vs units vs mix, with
      // the entered/exited residual called out). Identity: price + vol +
      // mix + new_discontinued == total change, exact cent sums in,
      // doubles only at the average-price divisions.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(when(year(col("o_orderdate")) === 1995, col("l_quantity"))
          .otherwise(0.0)).as("q0"),
          sum(when(year(col("o_orderdate")) === 1996, col("l_quantity"))
            .otherwise(0.0)).as("q1"),
          (sum(when(year(col("o_orderdate")) === 1995,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).cast("double") / 100.0).as("r0"),
          (sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).cast("double") / 100.0).as("r1"))
      val both = li.filter(col("q0") > 0 && col("q1") > 0)
        .select(col("q0"), col("q1"), col("r0"), col("r1"),
          (col("r0") / col("q0")).as("p0"), (col("r1") / col("q1")).as("p1"))
      val tots = both.agg(sum(col("q0")).as("tq0"), sum(col("q1")).as("tq1"),
        sum(col("r0")).as("tr0"), sum(col("r1")).as("tr1"),
        sum(col("q1") * (col("p1") - col("p0"))).as("price_eff"),
        sum((col("q1") - col("q0")) * col("p0")).as("vol_mix"))
      val excl = li.filter(!(col("q0") > 0 && col("q1") > 0))
        .agg(coalesce(sum(col("r1") - col("r0")), lit(0.0)).as("nd_eff"))
      tots.crossJoin(broadcast(excl))
        .select(round(col("tr1") - col("tr0") + col("nd_eff"), 2)
            .as("total_change"),
          round(col("price_eff"), 2).as("price_effect"),
          round((col("tq1") - col("tq0")) * (col("tr0") / col("tq0")), 2)
            .as("volume_effect"),
          round(col("vol_mix") -
            (col("tq1") - col("tq0")) * (col("tr0") / col("tq0")), 2)
            .as("mix_effect"),
          round(col("nd_eff"), 2).as("new_discontinued"))
    }),

    "q452_kingman_vut" -> ((s, dir) => {
      // Kingman VUT queue-wait estimate from observed purchase traffic:
      // interarrival CV² (ordered gaps), service CV² (value column as
      // service-time proxy), Wq ≈ ρ/(1-ρ)·(ca²+cs²)/2·E[S] at ρ=0.8 —
      // the variability-utilization-time staffing read next to q315's
      // Erlang-C. Gaps from one ordered window over the purchase
      // stream; both CVs from raw moments.
      val p = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("t"), col("event_id"),
          col("value").cast("double").as("svc"))
      // consecutive gaps WITHOUT a global-order window: two-phase rank +
      // shifted equi-join (the stream is data-sized, a single-partition
      // lag would not scale)
      val ranked = graft.ops.PrefixSum.globalRank(
        p, Seq(col("t"), col("event_id")), "rk")
      val prev = ranked.select((col("rk") + 1).as("rk"),
        col("t").as("prev"))
      val gaps = ranked.join(prev, Seq("rk"))
        .select(((col("t") - col("prev")).cast("double") / 1e6).as("g"))
      val ga = gaps.agg(count(lit(1)).cast("double").as("n"),
        avg(col("g")).as("mg"),
        (avg(col("g") * col("g")) - avg(col("g")) * avg(col("g")))
          .as("vg"))
      val sa = p.agg(avg(col("svc")).as("ms"),
        (avg(col("svc") * col("svc")) - avg(col("svc")) * avg(col("svc")))
          .as("vs"))
      ga.crossJoin(broadcast(sa))
        .select(col("n").cast("long").as("n_gaps"),
          round(col("mg"), 4).as("mean_interarrival_s"),
          round(col("vg") / (col("mg") * col("mg")), 6).as("ca2"),
          round(col("vs") / (col("ms") * col("ms")), 6).as("cs2"),
          round(lit(0.8) / 0.2 *
            ((col("vg") / (col("mg") * col("mg")) +
              col("vs") / (col("ms") * col("ms"))) / 2.0) * col("ms"), 4)
            .as("wq_est_s"))
    }),

    "q453_geometric_median" -> ((s, dir) => {
      // 2-D geometric median of the LCG supplier points via 5 Weiszfeld
      // iterations from the centroid — the robust spatial center the
      // mean can't give (q387 robustifies 1-D location; this is the
      // planar version). Each iteration is ONE aggregate with the
      // 2-scalar state broadcast back; distances guarded at 1e-9.
      val pts = t(s, dir, "supplier")
        .select(
          pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L))
            .cast("double").as("x"),
          pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L))
            .cast("double").as("y"))
      var c = pts.agg(avg(col("x")).as("cx"), avg(col("y")).as("cy"))
      for (it <- 1 to 5) {
        val j = pts.crossJoin(broadcast(c))
        val d = sqrt((col("x") - col("cx")) * (col("x") - col("cx")) +
          (col("y") - col("cy")) * (col("y") - col("cy")))
        val w = lit(1.0) / greatest(d, lit(1e-9))
        c = j.select(col("x"), col("y"), w.as("w"))
          .agg((sum(col("x") * col("w")) / sum(col("w"))).as("cx"),
            (sum(col("y") * col("w")) / sum(col("w"))).as("cy"))
      }
      val fin = pts.crossJoin(broadcast(c))
        .agg(count(lit(1)).as("n_points"),
          first(col("cx")).as("cx"), first(col("cy")).as("cy"),
          avg(sqrt((col("x") - col("cx")) * (col("x") - col("cx")) +
            (col("y") - col("cy")) * (col("y") - col("cy"))))
            .as("avg_dist"))
      fin.select(col("n_points"), round(col("cx"), 4).as("gm_x"),
        round(col("cy"), 4).as("gm_y"),
        round(col("avg_dist"), 4).as("avg_dist"))
    }),

    "q454_kde" -> ((s, dir) => {
      // Gaussian KDE of customer balances on a fixed 21-point grid with
      // the Silverman bandwidth — the nonparametric density companion
      // to q416's parametric mixture. The grid explode is a fixed 21×
      // map-side expansion collapsing straight back into 21 partial
      // aggregates; h and the normal constant are engine-identical
      // doubles.
      val xs = t(s, dir, "customer")
        .select(col("c_acctbal").cast("double").as("x"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("xc"))
      // grid points snapped to INTEGER cents: a float grid can land on a
      // .xx5 rounding boundary where the engines' round() rules differ
      val st = xs.agg(count(lit(1)).cast("double").as("n"),
        min(col("xc")).as("mnc"), max(col("xc")).as("mxc"),
        sqrt(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("sd"))
      val grid = s.range(21).select(col("id").as("k"))
      val pts = grid.crossJoin(broadcast(st))
        .select(col("k"), col("n"),
          ((col("mnc") + expr("(k * (mxc - mnc)) div 20"))
            .cast("double") / 100.0).as("g"),
          (lit(1.06) * col("sd") * pow(col("n"), -0.2)).as("h"))
      val dens = xs.crossJoin(broadcast(pts))
        .select(col("k"), col("g"), col("h"),
          (exp(lit(-0.5) * ((col("g") - col("x")) / col("h")) *
            ((col("g") - col("x")) / col("h"))) /
            (col("h") * math.sqrt(2 * math.Pi))).as("kv"))
        .groupBy(col("k"), col("g"))
        .agg(avg(col("kv")).as("density"))
      dens.select(col("k"), round(col("g"), 2).as("grid_x"),
          round(col("density") * 1e6, 4).as("density_ppm"))
        .orderBy(col("k"))
    }),

    "q455_qq_points" -> ((s, dir) => {
      // normal Q-Q plot points for customer balances at the 19 interior
      // ventiles: empirical quantiles at exact global ranks vs mu +
      // sd·probit(p) with Acklam's central-region rational probit
      // (identical formula both engines; every p here is central) — the
      // diagnostic PLOT behind q362/q375's normality tests.
      val base = customerBalanceCents(s, dir)
      val st = base.agg(count(lit(1)).as("n"),
        avg(col("v").cast("double") / 100.0).as("mu"),
        sqrt(avg(col("v").cast("double") / 100.0 *
          (col("v").cast("double") / 100.0)) -
          avg(col("v").cast("double") / 100.0) *
            avg(col("v").cast("double") / 100.0)).as("sd"))
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(st))
      val probs = s.range(1, 20)
        .select((col("id").cast("double") / 20.0).as("p"))
      val q = col("p") - 0.5
      val r = q * q
      val probit = (((((lit(-39.69683028665376) * r +
        lit(220.9460984245205)) * r + lit(-275.9285104469687)) * r +
        lit(138.3577518672690)) * r + lit(-30.66479806614716)) * r +
        lit(2.506628277459239)) * q /
        (((((lit(-54.47609879822406) * r + lit(161.5858368580409)) * r +
          lit(-155.6989798598866)) * r + lit(66.80131188771972)) * r +
          lit(-13.28068155288572)) * r + lit(1.0))
      val emp = ranked.crossJoin(broadcast(probs))
        .filter(col("rk") === ceil(col("p") * col("n")).cast("long"))
        .select(col("p"), (col("v").cast("double") / 100.0)
          .as("empirical"), col("mu"), col("sd"))
      emp.select(round(col("p"), 2).as("p"),
          round(col("empirical"), 2).as("empirical"),
          round(col("mu") + col("sd") * probit, 4).as("theoretical"))
        .orderBy(col("p"))
    }),

    "q456_shift_share" -> ((s, dir) => {
      // shift-share decomposition of each nation's 1995→1996 order
      // growth into national trend + priority-mix + local
      // competitiveness (+ cells born in 1996) — the regional-economics
      // bridge next to q441's LMDI and q451's PVM. Cell rollups collapse
      // map-side; all share algebra runs on the bounded nation×priority
      // grid.
      val cells = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority")
          .as("pri"))
        .agg(sum(when(year(col("o_orderdate")) === 1995, 1L)
          .otherwise(0L)).cast("double").as("e0"),
          sum(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
            .cast("double").as("e1"))
      val tot = cells.agg(sum(col("e0")).as("t0"), sum(col("e1")).as("t1"))
        .select((col("t1") / col("t0") - 1.0).as("gt"))
      val ind = cells.groupBy(col("pri"))
        .agg(sum(col("e0")).as("i0"), sum(col("e1")).as("i1"))
        .select(col("pri"), (col("i1") / col("i0") - 1.0).as("gi"))
      val dec = cells.join(broadcast(ind), Seq("pri"))
        .crossJoin(broadcast(tot))
        .groupBy(col("nk"))
        .agg(sum(col("e1") - col("e0")).as("change"),
          sum(when(col("e0") > 0, col("e0") * col("gt")).otherwise(0.0))
            .as("ns"),
          sum(when(col("e0") > 0, col("e0") * (col("gi") - col("gt")))
            .otherwise(0.0)).as("im"),
          sum(when(col("e0") > 0, col("e0") *
            (col("e1") / col("e0") - 1.0 - col("gi"))).otherwise(0.0))
            .as("rs"),
          sum(when(col("e0") === 0, col("e1")).otherwise(0.0))
            .as("born"))
      dec.select(col("nk").cast("long").as("nation"),
          col("change").cast("long").as("change"),
          round(col("ns"), 4).as("national_share"),
          round(col("im"), 4).as("industry_mix"),
          round(col("rs"), 4).as("regional_shift"),
          col("born").cast("long").as("new_cells"))
        .orderBy(col("nation"))
    }),

    "q457_icc" -> ((s, dir) => {
      // ICC(1) intraclass correlation of balances within nations from
      // the one-way ANOVA decomposition (unbalanced k0 correction) —
      // how much of the variance is BETWEEN groups; the clustering-
      // strength scalar behind q266's design effect. Group moments
      // collapse map-side; the ANOVA algebra is one bounded aggregate.
      val y = t(s, dir, "customer")
        .select(col("c_nationkey").as("g"),
          (expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("y"))
      val grp = y.groupBy(col("g"))
        .agg(count(lit(1)).cast("double").as("ng"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
      val ag = grp.agg(count(lit(1)).cast("double").as("a"),
        sum(col("ng")).as("nn"), sum(col("sy")).as("ty"),
        sum(col("syy")).as("tyy"),
        sum(col("sy") * col("sy") / col("ng")).as("ssbRaw"),
        sum(col("ng") * col("ng")).as("sn2"))
      val ssb = col("ssbRaw") - col("ty") * col("ty") / col("nn")
      val ssw = col("tyy") - col("ssbRaw")
      val msb = ssb / (col("a") - 1)
      val msw = ssw / (col("nn") - col("a"))
      val k0 = (col("nn") - col("sn2") / col("nn")) / (col("a") - 1)
      ag.select(col("nn").cast("long").as("n"),
        col("a").cast("long").as("n_groups"),
        round(msb, 4).as("ms_between"), round(msw, 4).as("ms_within"),
        round(k0, 4).as("k0"),
        round((msb - msw) / (msb + (k0 - 1) * msw), 6).as("icc1"))
    }),

    "q458_topsis" -> ((s, dir) => {
      // TOPSIS multi-criteria ranking of brands (revenue ↑, return rate
      // ↓, avg discount ↓, equal weights): vector-normalized criteria,
      // distance to ideal / anti-ideal, closeness score — the MCDM
      // shortlist builder. Brand rollups collapse map-side; the ideal
      // points and distances run on the bounded brand table.
      val br = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg((sum(expr(
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .cast("double") / 100.0).as("rev"),
          (sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("ret"),
          avg(col("l_discount").cast("double")).as("disc"))
      val norms = br.agg(sqrt(sum(col("rev") * col("rev"))).as("nr"),
        sqrt(sum(col("ret") * col("ret"))).as("nt"),
        sqrt(sum(col("disc") * col("disc"))).as("nd"))
      val v = br.crossJoin(broadcast(norms))
        .select(col("p_brand"), (col("rev") / col("nr") / 3.0).as("v1"),
          (col("ret") / col("nt") / 3.0).as("v2"),
          (col("disc") / col("nd") / 3.0).as("v3"))
      val ideal = v.agg(max(col("v1")).as("p1"), min(col("v2")).as("p2"),
        min(col("v3")).as("p3"), min(col("v1")).as("m1"),
        max(col("v2")).as("m2"), max(col("v3")).as("m3"))
      val scored = v.crossJoin(broadcast(ideal))
        .select(col("p_brand"),
          sqrt((col("v1") - col("p1")) * (col("v1") - col("p1")) +
            (col("v2") - col("p2")) * (col("v2") - col("p2")) +
            (col("v3") - col("p3")) * (col("v3") - col("p3"))).as("dp"),
          sqrt((col("v1") - col("m1")) * (col("v1") - col("m1")) +
            (col("v2") - col("m2")) * (col("v2") - col("m2")) +
            (col("v3") - col("m3")) * (col("v3") - col("m3"))).as("dm"))
      scored.select(col("p_brand"),
          round(col("dm") / (col("dp") + col("dm")), 6).as("closeness"))
        .orderBy(col("closeness").desc, col("p_brand"))
        .limit(10)
    }),

    "q459_rolling_origin" -> ((s, dir) => {
      // rolling-origin (expanding-window) backtest: for each of the last
      // 10 days, forecast = mean of ALL prior days, scored against the
      // actual — the leakage-free protocol the in-sample q407 scorecard
      // doesn't give. One exclusive-prefix window over the calendar-
      // bounded daily frame.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val rn = Window.orderBy(col("d"))
      daily
        .withColumn("f", avg(col("y")).over(w))
        .withColumn("t", row_number().over(rn))
        .filter(col("t") > 20)
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
          col("y").cast("long").as("actual"),
          round(col("f"), 4).as("forecast"),
          round(abs(col("y") - col("f")), 4).as("abs_err"))
        .orderBy(col("d"))
    }),

    "q460_rank_aggregation" -> ((s, dir) => {
      // Borda rank aggregation of three brand leaderboards (revenue,
      // quantity, order count): per-criterion exact ranks on the bounded
      // brand table, Borda score = Σ (n − rank) — the social-choice
      // merge of conflicting rankings (q161's RBO compares two lists;
      // this FUSES three). Top 10 by Borda, ties to the brand key.
      val br = brandRevenue(s, dir)
      val wR = Window.orderBy(col("rev").desc, col("p_brand"))
      val wQ = Window.orderBy(col("qty").desc, col("p_brand"))
      val wO = Window.orderBy(col("ords").desc, col("p_brand"))
      val nB = br.agg(count(lit(1)).as("nb"))
      val ranked = br
        .withColumn("r1", row_number().over(wR).cast("long"))
        .withColumn("r2", row_number().over(wQ).cast("long"))
        .withColumn("r3", row_number().over(wO).cast("long"))
        .crossJoin(broadcast(nB))
        .withColumn("borda",
          lit(3L) * col("nb") - col("r1") - col("r2") - col("r3"))
      ranked.select(col("p_brand"), col("r1").as("rank_revenue"),
          col("r2").as("rank_quantity"), col("r3").as("rank_orders"),
          col("borda"))
        .orderBy(col("borda").desc, col("p_brand"))
        .limit(10)
    }),

    "q461_anderson_darling" -> ((s, dir) => {
      // 2-sample Anderson-Darling A²akN (Scholz-Stephens midrank/ties
      // form) for 1995 vs 1996 order values — the tail-weighted member
      // completing the q168 KS / q329 CvM GOF family on the same
      // value-grid machinery: grouped counts + two grouped prefix sums,
      // zero pair enumeration.
      val base = orderCentsByYear(s, dir)
      val grid = base.groupBy(col("v"))
        .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("c1"),
          sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("c2"))
        .withColumn("l", col("c1") + col("c2"))
      // both prefix sums in ONE two-phase pass, and the totals aggregate
      // reads the pass's materialized output instead of re-executing the
      // grid aggregate from the orders scan a second time
      val cum = graft.ops.PrefixSum.groupedRunningSums(
        grid.withColumn("__g", lit(1)), "__g", "v",
        Seq((col("l"), "cb"), (col("c1"), "cm1")))
      val tot = cum.agg(sum(col("c1")).cast("double").as("n1"),
        sum(col("c2")).cast("double").as("n2"),
        count(lit(1)).as("nvals"))
      val terms = cum.crossJoin(broadcast(tot))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("ba",
          col("cb").cast("double") - col("l").cast("double") / 2)
        .withColumn("ma1",
          col("cm1").cast("double") - col("c1").cast("double") / 2)
        .withColumn("ma2",
          (col("cb") - col("cm1")).cast("double") -
            (col("l") - col("c1")).cast("double") / 2)
        .withColumn("dd", col("ba") * (col("nn") - col("ba")) -
          col("nn") * col("l").cast("double") / 4)
        .filter(col("dd") > 0)
        .select(col("l"), col("nn"), col("n1"), col("n2"),
          ((col("l").cast("double") / col("nn")) * (
            (col("nn") * col("ma1") - col("n1") * col("ba")) *
              (col("nn") * col("ma1") - col("n1") * col("ba")) /
              col("n1") +
            (col("nn") * col("ma2") - col("n2") * col("ba")) *
              (col("nn") * col("ma2") - col("n2") * col("ba")) /
              col("n2")) / col("dd")).as("term"))
      terms.agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
          first(col("nn")).as("nn"), sum(col("term")).as("ts"))
        .crossJoin(broadcast(tot.select(col("nvals"))))
        .select(col("n1").cast("long").as("n_1995"),
          col("n2").cast("long").as("n_1996"), col("nvals")
            .as("n_distinct"),
          round((col("nn") - 1) / col("nn") * col("ts"), 6).as("a2akn"))
    }),

    "q462_lad_regression" -> ((s, dir) => {
      // L1 (least absolute deviations) trend of daily purchases via 3
      // IRLS steps from the OLS start (weights 1/max(|e|,1e-6)) — the
      // outlier-resistant regression between q209's Theil-Sen and plain
      // OLS. Each step is ONE weighted aggregate with the 2-scalar
      // state broadcast back.
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("y"))
      val d0 = daily.agg(min(col("d")).as("d0"))
      val td = daily.crossJoin(broadcast(d0))
        .select(datediff(col("d"), col("d0")).cast("double").as("x"),
          col("y"))
      var fit = td.agg(count(lit(1)).cast("double").as("n"),
          avg(col("x")).as("mx"), avg(col("y")).as("my"),
          (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y")))
            .as("cxy"),
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
            .as("cxx"))
        .select((col("cxy") / col("cxx")).as("b"),
          (col("my") - col("cxy") / col("cxx") * col("mx")).as("a"),
          (col("cxy") / col("cxx")).as("ols_b"))
      for (it <- 1 to 3) {
        val j = td.crossJoin(broadcast(fit))
        val w = lit(1.0) /
          greatest(abs(col("y") - col("a") - col("b") * col("x")),
            lit(1e-6))
        fit = j.select(col("x"), col("y"), w.as("w"),
            col("ols_b"))
          .agg(first(col("ols_b")).as("ols_b"), sum(col("w")).as("sw"),
            sum(col("w") * col("x")).as("swx"),
            sum(col("w") * col("y")).as("swy"),
            sum(col("w") * col("x") * col("x")).as("swxx"),
            sum(col("w") * col("x") * col("y")).as("swxy"))
          .select(
            ((col("sw") * col("swxy") - col("swx") * col("swy")) /
              (col("sw") * col("swxx") - col("swx") * col("swx")))
              .as("b"),
            ((col("swy") - (col("sw") * col("swxy") - col("swx") *
              col("swy")) / (col("sw") * col("swxx") - col("swx") *
              col("swx")) * col("swx")) / col("sw")).as("a"),
            col("ols_b"))
      }
      td.agg(count(lit(1)).as("n_days")).crossJoin(broadcast(fit))
        .select(col("n_days"), round(col("ols_b"), 6).as("ols_slope"),
          round(col("b"), 6).as("lad_slope"),
          round(col("a"), 4).as("lad_intercept"))
    }),

    "q463_median_polish" -> ((s, dir) => {
      // Tukey median polish of the nation × segment median-balance grid
      // (2 sweeps): grand + row + column effects + residuals by
      // iterated EXACT medians — the robust two-way decomposition next
      // to q336's mean-based ANOVA. Both grid dimensions are odd (25 ×
      // 5), so every median is an exact element, engine-identical; only
      // the cell rollup is data-sized.
      var grid = ScaleChecks.boundedDomain(t(s, dir, "customer"),
          "account balance quantized to integer cents: a fixed grid of " +
            "~1.1M cells bounded by the balance range, not by rows",
          budget = 1100000L)
        .groupBy(col("c_nationkey").as("nk"),
          col("c_mktsegment").as("sg"))
        .agg(expr("percentile(CAST(floor(c_acctbal * 100 + 0.5) AS " +
          "BIGINT), 0.5)").as("r"))
      var rowEff = grid.select(col("nk")).distinct()
        .withColumn("re", lit(0.0))
      var colEff = grid.select(col("sg")).distinct()
        .withColumn("ce", lit(0.0))
      var grandDf = grid.sparkSession.range(1).select(lit(0.0).as("gm"))
      for (it <- 1 to 2) {
        val rm = grid.groupBy(col("nk"))
          .agg(expr("percentile(r, 0.5)").as("rm"))
        grid = grid.join(rm, Seq("nk"))
          .select(col("nk"), col("sg"), (col("r") - col("rm")).as("r"))
        rowEff = rowEff.join(rm, Seq("nk"))
          .select(col("nk"), (col("re") + col("rm")).as("re"))
        val mre = rowEff.agg(expr("percentile(re, 0.5)").as("m"))
        grandDf = grandDf.crossJoin(mre)
          .select((col("gm") + col("m")).as("gm"))
        rowEff = rowEff.crossJoin(broadcast(mre))
          .select(col("nk"), (col("re") - col("m")).as("re"))
        val cm = grid.groupBy(col("sg"))
          .agg(expr("percentile(r, 0.5)").as("cm"))
        grid = grid.join(cm, Seq("sg"))
          .select(col("nk"), col("sg"), (col("r") - col("cm")).as("r"))
        colEff = colEff.join(cm, Seq("sg"))
          .select(col("sg"), (col("ce") + col("cm")).as("ce"))
        val mce = colEff.agg(expr("percentile(ce, 0.5)").as("m"))
        grandDf = grandDf.crossJoin(mce)
          .select((col("gm") + col("m")).as("gm"))
        colEff = colEff.crossJoin(broadcast(mce))
          .select(col("sg"), (col("ce") - col("m")).as("ce"))
        grid = grid.materializeEager
      }
      val residMad = grid.agg(expr("percentile(abs(r), 0.5)").as("mad"))
      colEff.crossJoin(broadcast(grandDf)).crossJoin(broadcast(residMad))
        .select(col("sg").as("segment"),
          round(col("ce") / 100.0, 4).as("col_effect"),
          round(col("gm") / 100.0, 4).as("grand"),
          round(col("mad") / 100.0, 4).as("resid_mad"))
        .orderBy(col("segment"))
    }),

    "q464_pert_estimate" -> ((s, dir) => {
      // PERT three-point estimates of per-brand ship lag: optimistic =
      // min, most-likely = mode (ties to the smaller lag), pessimistic =
      // max, mean = (o + 4m + p)/6, sd = (p − o)/6 — the project-
      // estimation read on fulfillment latency. Lag counts collapse
      // map-side; the mode pick is a bounded per-brand rank.
      val lag = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lag"))
      val cnt = lag.groupBy(col("p_brand"), col("lag"))
        .agg(count(lit(1)).as("c"))
      val wMode = Window.partitionBy(col("p_brand"))
        .orderBy(col("c").desc, col("lag"))
      val mode = cnt.withColumn("rn", row_number().over(wMode))
        .filter(col("rn") === 1)
        .select(col("p_brand"), col("lag").as("m"))
      val ext = lag.groupBy(col("p_brand"))
        .agg(min(col("lag")).as("o"), max(col("lag")).as("p"),
          count(lit(1)).as("n"))
      ext.join(mode, Seq("p_brand"))
        .select(col("p_brand"), col("n"), col("o").as("optimistic"),
          col("m").as("most_likely"), col("p").as("pessimistic"),
          round((col("o") + col("m") * 4 + col("p")).cast("double") / 6.0,
            4).as("pert_mean"),
          round((col("p") - col("o")).cast("double") / 6.0, 4)
            .as("pert_sd"))
        .orderBy(col("p_brand"))
    }),

    "q465_loess" -> ((s, dir) => {
      // LOESS-style local linear fit of line price on quantity at 10
      // fixed grid points (tricube weights, bandwidth 12.5) — the local
      // smoother between q454's KDE (density) and global OLS (one
      // line). The grid explode is a fixed 10× map-side expansion; each
      // grid point closes in one weighted aggregate.
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("x"),
          (expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("y"))
      val grid = s.range(1, 11)
        .select((col("id") * 5).cast("double").as("x0"))
      val h = 12.5
      val wtd = li.crossJoin(broadcast(grid))
        .filter(abs(col("x") - col("x0")) < h)
        .withColumn("w", pow(lit(1.0) -
          pow(abs(col("x") - col("x0")) / h, 3.0), 3.0))
      val sums = wtd.groupBy(col("x0"))
        .agg(count(lit(1)).as("n_window"), sum(col("w")).as("sw"),
          sum(col("w") * col("x")).as("swx"),
          sum(col("w") * col("y")).as("swy"),
          sum(col("w") * col("x") * col("x")).as("swxx"),
          sum(col("w") * col("x") * col("y")).as("swxy"))
      val b = (col("sw") * col("swxy") - col("swx") * col("swy")) /
        (col("sw") * col("swxx") - col("swx") * col("swx"))
      sums.select(col("x0"), col("n_window"),
          round((col("swy") - b * col("swx")) / col("sw") + b * col("x0"),
            4).as("fitted"))
        .orderBy(col("x0"))
    }),

    "q466_min_variance" -> ((s, dir) => {
      // two-asset minimum-variance portfolio over the BUILDING and
      // MACHINERY segments' daily revenue log-returns: closed-form
      // weight w = (σ2²−σ12)/(σ1²+σ2²−2σ12) and the achieved variance
      // vs each single asset — Markowitz in one aggregate. Returns are
      // aligned by inner-joining the two calendar-bounded daily series.
      def seg(name: String) = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("rev"))
      val j = seg("BUILDING").select(col("d"), col("rev").as("r1"))
        .join(seg("MACHINERY").select(col("d"), col("rev").as("r2")),
          Seq("d"))
      val w = Window.orderBy(col("d"))
      val rets = j
        .withColumn("p1", lag(col("r1"), 1).over(w))
        .withColumn("p2", lag(col("r2"), 1).over(w))
        .filter(col("p1").isNotNull)
        .select(log(col("r1") / col("p1")).as("x"),
          log(col("r2") / col("p2")).as("y"))
      val m = rets.agg(count(lit(1)).as("n_days"),
        (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("v1"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("v2"),
        (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y")))
          .as("cv"))
      val wgt = (col("v2") - col("cv")) /
        (col("v1") + col("v2") - col("cv") * 2)
      m.select(col("n_days"), round(wgt, 6).as("w_building"),
        round(col("v1"), 8).as("var_building"),
        round(col("v2"), 8).as("var_machinery"),
        round(wgt * wgt * col("v1") +
          (lit(1.0) - wgt) * (lit(1.0) - wgt) * col("v2") +
          lit(2.0) * wgt * (lit(1.0) - wgt) * col("cv"), 8)
          .as("var_portfolio"))
    }),

    "q467_jain_fairness" -> ((s, dir) => {
      // Jain's fairness index of per-user event load, per event type and
      // overall — the systems-fairness scalar ((Σx)²/(n·Σx²), 1 =
      // perfectly even, 1/n = one user takes all). User counts collapse
      // map-side; the index is one tiny aggregate per type.
      val perUser = events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("double").as("x"))
      val byType = perUser.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val overall = events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).cast("double").as("x"))
        .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(lit("ALL").as("event_type"), col("n_users"), col("sx"),
          col("sxx"))
      byType.select(col("event_type"), col("n_users"), col("sx"),
          col("sxx"))
        .union(overall)
        .select(col("event_type"), col("n_users"),
          round(col("sx") * col("sx") / (col("n_users") * col("sxx")), 6)
            .as("jain_index"))
        .orderBy(col("event_type"))
    }),

    "q468_max_subarray" -> ((s, dir) => {
      // maximum-subarray (Kadane via prefix sums) on daily revenue
      // deviations from the mean: the best consecutive run of
      // above-average days — burst localization next to q184's
      // threshold bursts. best(t) = P_t − min(0, min_{s<t} P_s), all
      // from two windows over the calendar-bounded daily frame; ties
      // resolve to the earliest end then latest start deterministically.
      val daily = dailyOrderRevenue(s, dir)
      val mu = daily.agg(avg(col("rev")).as("mu"),
        min(col("d")).as("d0"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wPrev = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val p = daily.crossJoin(broadcast(mu))
        .withColumn("pfx", sum(col("rev") - col("mu")).over(w))
      val e = p
        .withColumn("mp", min(col("pfx")).over(wPrev))
        .withColumn("useBase", col("mp").isNotNull && col("mp") <= 0)
        .withColumn("score", col("pfx") -
          when(col("mp").isNotNull && col("mp") <= 0, col("mp"))
            .otherwise(lit(0.0)))
        .orderBy(col("score").desc, col("d")).limit(1)
        .select(col("d").as("endd"), col("d0"), col("mp"),
          col("useBase"), col("score"))
      // start = day after the EARLIEST prefix-argmin before the end (or
      // the first day when no prior prefix dips to <= 0)
      e.join(p.select(col("d").as("sd"), col("pfx").as("spfx")),
          col("useBase") && col("sd") < col("endd") &&
            col("spfx") === col("mp"), "left")
        .groupBy(col("endd"), col("d0"), col("useBase"), col("score"))
        .agg(min(col("sd")).as("amin"))
        .select(date_format(when(col("useBase"),
            date_add(col("amin"), 1)).otherwise(col("d0")), "yyyy-MM-dd")
            .as("start_day"),
          date_format(col("endd"), "yyyy-MM-dd").as("end_day"),
          (datediff(col("endd"), when(col("useBase"),
            date_add(col("amin"), 1)).otherwise(col("d0"))) + 1)
            .cast("long").as("n_days"),
          round(col("score") / 100.0, 2).as("excess_revenue"))
    }),

    "q469_absorbing_chain" -> ((s, dir) => {
      // absorbing-Markov-chain lifetime: weekly active/dormant states
      // (dormant twice in a row = churned, absorbing), transition
      // probabilities from the full user×week grid, expected periods to
      // churn via the closed-form 2×2 fundamental matrix (I−Q)⁻¹ — the
      // matrix-LTV read next to q340's removal-effect attribution.
      // Only the user-week rollup is data-sized.
      val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      // DAILY purchase-activity states: weekly all-event states are
      // saturated (every user active every week), so the chain needs the
      // sparser signal to have any dormant mass
      val uw = events(s, dir)
        .filter(col("event_type") === "purchase")
        .crossJoin(broadcast(d0))
        .select(col("user_id"),
          datediff(to_date(col("ts")), col("d0")).cast("long").as("wk"))
        .filter(col("wk") <= 29)
        .distinct()
      val users = events(s, dir).select(col("user_id")).distinct()
      val weeks = s.range(30).select(col("id").as("wk"))
      val states = users.crossJoin(broadcast(weeks))
        .join(uw.withColumn("act", lit(true)), Seq("user_id", "wk"),
          "left")
        .select(col("user_id"), col("wk"),
          coalesce(col("act"), lit(false)).as("act"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val trans = states
        .withColumn("prev", lag(col("act"), 1).over(wU))
        .filter(col("prev").isNotNull)
      val cnts = trans.agg(
        sum(when(col("prev") && col("act"), 1L).otherwise(0L))
          .cast("double").as("aa"),
        sum(when(col("prev") && !col("act"), 1L).otherwise(0L))
          .cast("double").as("ad"),
        sum(when(!col("prev") && col("act"), 1L).otherwise(0L))
          .cast("double").as("da"),
        sum(when(!col("prev") && !col("act"), 1L).otherwise(0L))
          .cast("double").as("dc"))
      val pAA = col("aa") / (col("aa") + col("ad"))
      val pAD = col("ad") / (col("aa") + col("ad"))
      val pDA = col("da") / (col("da") + col("dc"))
      // N = (I-Q)^-1 with Q = [[pAA, pAD], [pDA, 0]]:
      // det = (1-pAA) - pAD*pDA; row sums give expected periods alive.
      // Degenerate chains (an empty row of the 2x2) emit NULLs on both
      // engines rather than tripping ANSI division.
      val det = (lit(1.0) - pAA) - pAD * pDA
      val ok = (col("aa") + col("ad")) > 0 && (col("da") + col("dc")) > 0
      cnts.select(
        when(col("aa") + col("ad") > 0, round(pAA, 6))
          .as("p_active_active"),
        when(col("aa") + col("ad") > 0, round(pAD, 6))
          .as("p_active_dormant"),
        when(col("da") + col("dc") > 0, round(pDA, 6))
          .as("p_dormant_active"),
        when(ok, round((lit(1.0) + pAD) / det, 4))
          .as("exp_periods_from_active"),
        when(ok, round((pDA + (lit(1.0) - pAA)) / det, 4))
          .as("exp_periods_from_dormant"))
    }),

    "q470_capm_beta" -> ((s, dir) => {
      // CAPM regression of each segment's daily revenue log-returns on
      // the market (total) return: beta, Jensen alpha, R² per segment —
      // the systematic-vs-idiosyncratic split (q417 rolls one pair over
      // time; this cross-sections all five). Per-segment windows shuffle
      // once on the segment key.
      val seg = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"),
          col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("rev"))
      val mkt = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("mrev"))
      val j = seg.join(mkt, Seq("d"))
      val wS = Window.partitionBy(col("sg")).orderBy(col("d"))
      val rets = j
        .withColumn("pr", lag(col("rev"), 1).over(wS))
        .withColumn("pm", lag(col("mrev"), 1).over(wS))
        .filter(col("pr").isNotNull)
        .select(col("sg"), log(col("rev") / col("pr")).as("rs"),
          log(col("mrev") / col("pm")).as("rm"))
      val m = rets.groupBy(col("sg"))
        .agg(count(lit(1)).as("n"),
          (avg(col("rs") * col("rm")) - avg(col("rs")) * avg(col("rm")))
            .as("cv"),
          (avg(col("rm") * col("rm")) - avg(col("rm")) * avg(col("rm")))
            .as("vm"),
          (avg(col("rs") * col("rs")) - avg(col("rs")) * avg(col("rs")))
            .as("vs"),
          avg(col("rs")).as("ms"), avg(col("rm")).as("mm"))
      m.select(col("sg").as("segment"), col("n"),
          round(col("cv") / col("vm"), 6).as("beta"),
          round(col("ms") - col("cv") / col("vm") * col("mm"), 6)
            .as("alpha"),
          round(col("cv") * col("cv") / (col("vm") * col("vs")), 6)
            .as("r2"))
        .orderBy(col("segment"))
    }),

    "q471_poisson_glm" -> ((s, dir) => {
      // Poisson GLM (log link) of daily purchase counts on a weekend
      // indicator, 3 Newton steps from the log-mean start — the count
      // companion to q138's logistic: exp(b) is the weekend rate ratio.
      // Each step is ONE aggregate with the 2-scalar state broadcast
      // back; the 2×2 Newton solve is closed-form Cramer.
      val daily = dailyPurchases(s, dir)
      var fit = daily.agg(log(avg(col("y"))).as("a"))
        .select(col("a"), lit(0.0).as("b"))
      for (it <- 1 to 3) {
        val j = daily.crossJoin(broadcast(fit))
          .withColumn("mu", exp(col("a") + col("b") * col("x")))
        fit = j.agg(first(col("a")).as("a"), first(col("b")).as("b"),
            sum(col("mu")).as("s0"), sum(col("mu") * col("x")).as("s1"),
            sum(col("mu") * col("x") * col("x")).as("s2"),
            sum(col("y") - col("mu")).as("g0"),
            sum((col("y") - col("mu")) * col("x")).as("g1"))
          .select(
            (col("a") + (col("g0") * col("s2") - col("g1") * col("s1")) /
              (col("s0") * col("s2") - col("s1") * col("s1"))).as("a"),
            (col("b") + (col("s0") * col("g1") - col("s1") * col("g0")) /
              (col("s0") * col("s2") - col("s1") * col("s1"))).as("b"))
      }
      daily.agg(count(lit(1)).as("n_days"),
          sum(when(col("x") === 1.0, 1L).otherwise(0L))
            .as("n_weekend_days"))
        .crossJoin(broadcast(fit))
        .select(col("n_days"), col("n_weekend_days"),
          round(col("a"), 6).as("intercept"),
          round(col("b"), 6).as("weekend_coef"),
          round(exp(col("a")), 4).as("weekday_rate"),
          round(exp(col("b")), 6).as("weekend_rate_ratio"))
    }),

    "q472_wilcoxon_signed_rank" -> ((s, dir) => {
      // Wilcoxon signed-rank test on PAIRED per-customer spend (1995 vs
      // 1996, customers active both years) — the paired complement to
      // q278's unpaired Mann-Whitney: midranks of |d| from grouped
      // counts + one prefix sum (zero differences dropped, tie-corrected
      // normal z), no global sort task.
      val spend = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) === 1995,
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("s95"),
          sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("s96"))
        .filter(col("s95") > 0 && col("s96") > 0)
        .select((col("s96") - col("s95")).as("dd"))
        .filter(col("dd") =!= 0)
      val grp = spend.groupBy(abs(col("dd")).as("ad"))
        .agg(count(lit(1)).as("t"),
          sum(when(col("dd") > 0, 1L).otherwise(0L)).as("pos"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        grp.withColumn("__g", lit(1)), "__g", "ad", col("t"), "cb")
      val n = grp.agg(sum(col("t")).cast("double").as("n"))
      val stats = cum.crossJoin(broadcast(n))
        .select(col("n"),
          (col("pos").cast("double") *
            ((col("cb") - col("t")).cast("double") +
              (col("t").cast("double") + 1) / 2)).as("wContrib"),
          (col("t").cast("double") * col("t").cast("double") *
            col("t").cast("double") - col("t").cast("double"))
            .as("tieTerm"))
        .agg(first(col("n")).as("n"), sum(col("wContrib")).as("wplus"),
          sum(col("tieTerm")).as("ties"))
      val e = col("n") * (col("n") + 1) / 4
      val v = col("n") * (col("n") + 1) * (col("n") * 2 + 1) / 24 -
        col("ties") / 48
      val z = (col("wplus") - e) / sqrt(v)
      val x = abs(z) / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      stats.select(col("n").cast("long").as("n_pairs"),
        round(col("wplus"), 1).as("w_plus"), round(z, 6).as("z"),
        round((lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
          exp(-x * x), 6).as("p_two_sided"))
    }),

    "q473_stochastic_dominance" -> ((s, dir) => {
      // first- and second-order stochastic dominance of 1996 over 1995
      // order values on the shared value grid: FSD from the CDF gap
      // extremes, SSD from EXACT integer-unit CDF integrals (Σ cum·Δx
      // stays in longs until the final divisions) — the decision-theory
      // verdict behind q302's Wasserstein distance. Four grouped prefix
      // sums, no global-order task. Long-overflow bound: v is cents
      // (< ~5.5e7) and cum counts rows per year-cohort, so v·cum_excl
      // stays exact while the cohort has < ~1.6e11 rows (9.2e18 / 5.5e7);
      // past that, compute the integral terms in DECIMAL(38,0).
      val base = orderCentsByYear(s, dir)
      val grid = base.groupBy(col("v"))
        .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("c1"),
          sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("c2"))
        .withColumn("__g", lit(1))
      // ALL four aligned prefix sums in ONE two-phase pass; the CDF
      // integral at v_j is the by-parts identity Σ_{k<j} c_k·(v_j−v_k)
      // = v_j·cum_excl − Σ_excl c·v, so no successor join is needed
      val cum = graft.ops.PrefixSum.groupedRunningSums(
        grid, "__g", "v", Seq(
          (col("c1"), "cum1"), (col("c2"), "cum2"),
          (col("c1") * col("v"), "s1v"), (col("c2") * col("v"), "s2v")))
      val tot = grid.agg(sum(col("c1")).cast("double").as("n1"),
        sum(col("c2")).cast("double").as("n2"))
      val gaps = cum.crossJoin(broadcast(tot))
        .select(
          (col("cum1").cast("double") / col("n1") -
            col("cum2").cast("double") / col("n2")).as("cdf_gap"),
          ((col("v") * (col("cum1") - col("c1")) -
            (col("s1v") - col("c1") * col("v"))).cast("double") /
            col("n1") -
            (col("v") * (col("cum2") - col("c2")) -
              (col("s2v") - col("c2") * col("v"))).cast("double") /
            col("n2")).as("int_gap"))
      gaps.agg(min(col("cdf_gap")).as("min_cdf_gap"),
          max(col("cdf_gap")).as("max_cdf_gap"),
          min(col("int_gap")).as("min_int_gap"))
        .crossJoin(broadcast(tot))
        .select(col("n1").cast("long").as("n_1995"),
          col("n2").cast("long").as("n_1996"),
          round(col("min_cdf_gap"), 6).as("min_cdf_gap"),
          round(col("max_cdf_gap"), 6).as("max_cdf_gap"),
          (col("min_cdf_gap") >= 0).as("fsd_1996_dominates"),
          round(col("min_int_gap"), 4).as("min_integral_gap"),
          (col("min_int_gap") >= 0).as("ssd_1996_dominates"))
    }),

    "q474_bandit_replay" -> ((s, dir) => {
      // off-policy replay of a greedy bandit over the five event types:
      // each day the policy picks the arm with the best OBSERVED mean
      // daily share so far (exclusive prefix, day-1 ties to the
      // alphabetical first) and collects that arm's share — regret is
      // measured against the best single arm in hindsight. Five
      // exclusive window means over the calendar-bounded wide frame.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("tot"),
          types.map(tp => (sum(when(col("event_type") === tp, 1L)
            .otherwise(0L)).cast("double")).as(s"c_$tp")): _*)
      val shares = daily.select(Seq(col("d")) ++
        types.map(tp => (col(s"c_$tp") / col("tot")).as(s"s_$tp")): _*)
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withM = shares.select(Seq(col("d")) ++
        types.map(tp => col(s"s_$tp")) ++
        types.map(tp =>
          coalesce(avg(col(s"s_$tp")).over(w), lit(0.0)).as(s"m_$tp")): _*)
      // argmax with first-in-order tiebreak: strict > against all later
      val pickExpr = types.zipWithIndex.foldRight(
          lit(types.last): Column) { case ((tp, i), acc) =>
        if (i == types.length - 1) acc
        else {
          val beatsAll = types.drop(i + 1)
            .map(o => col(s"m_$tp") >= col(s"m_$o")).reduce(_ && _)
          when(beatsAll, lit(tp)).otherwise(acc)
        }
      }
      val picked = withM.withColumn("pick", pickExpr)
        .withColumn("reward", types.map(tp =>
          when(col("pick") === tp, col(s"s_$tp")).otherwise(lit(0.0)))
          .reduce(_ + _))
      val best = shares.agg(types.map(tp =>
        avg(col(s"s_$tp")).as(s"b_$tp")).head,
        types.tail.map(tp => avg(col(s"s_$tp")).as(s"b_$tp")): _*)
      val bestArm = types.zipWithIndex.foldRight(
          lit(types.last): Column) { case ((tp, i), acc) =>
        if (i == types.length - 1) acc
        else {
          val beatsAll = types.drop(i + 1)
            .map(o => col(s"b_$tp") >= col(s"b_$o")).reduce(_ && _)
          when(beatsAll, lit(tp)).otherwise(acc)
        }
      }
      val bestVal = types.map(tp => col(s"b_$tp"))
        .reduce((a, b) => greatest(a, b))
      picked.agg(count(lit(1)).cast("double").as("n_days"),
          sum(col("reward")).as("total_reward"))
        .crossJoin(broadcast(best))
        .select(col("n_days").cast("long").as("n_days"),
          round(col("total_reward"), 6).as("total_reward"),
          bestArm.as("best_arm"),
          round(bestVal * col("n_days"), 6).as("best_reward"),
          round(bestVal * col("n_days") - col("total_reward"), 6)
            .as("regret"))
    }),

    "q475_floyd_warshall" -> ((s, dir) => {
      // all-pairs shortest paths (Floyd-Warshall, 5 pivot rounds) on the
      // event-type transition graph with -ln(p) edge costs — "hardest to
      // reach" distances under the q163 Markov kernel. The universe is
      // the bounded 5×5 grid; each pivot round is two joins on it, with
      // NULL as +infinity.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tr = eventTransitions(s, dir)
      val rowTot = tr.groupBy(col("src")).agg(sum(col("c")).as("rt"))
      val edges = tr.join(rowTot, Seq("src"))
        .select(col("src"), col("dst"), (-log(col("c") / col("rt")))
          .as("d"))
      val uni = s.createDataFrame(
          for { a <- types; b <- types } yield (a, b))
        .toDF("src", "dst")
      var d = uni.join(edges, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"),
          when(col("src") === col("dst"), lit(0.0)).otherwise(col("d"))
            .as("d"))
      for (k <- types) {
        val ik = d.filter(col("dst") === k && col("d").isNotNull)
          .select(col("src"), col("d").as("dik"))
        val kj = d.filter(col("src") === k && col("d").isNotNull)
          .select(col("dst"), col("d").as("dkj"))
        d = d.join(ik, Seq("src"), "left").join(kj, Seq("dst"), "left")
          .select(col("src"), col("dst"),
            when(col("dik").isNotNull && col("dkj").isNotNull &&
              (col("d").isNull || col("dik") + col("dkj") < col("d")),
              col("dik") + col("dkj")).otherwise(col("d")).as("d"))
          .materializeEager
      }
      d.select(col("src"), col("dst"), round(col("d"), 6).as("dist"))
        .orderBy(col("src"), col("dst"))
    }),

    "q476_stratified_km" -> ((s, dir) => {
      // Kaplan-Meier churn survival STRATIFIED by market segment, read
      // out at the 30/60/90-day horizons — q177's estimator with the
      // risk sets per stratum (grouped suffix counts) and the product
      // limit folded into three conditional log-sums per segment; one
      // shuffle on the segment key at any scale.
      val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val cust = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"), col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first"),
          max(col("o_orderdate")).as("last"))
        .crossJoin(broadcast(maxD))
        .select(col("sg"),
          datediff(col("last"), col("first")).cast("long").as("dur"),
          (datediff(col("mx"), col("last")) > 90).as("event"))
      val byDur = cust.groupBy(col("sg"), col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d"))
      val tot = byDur.groupBy(col("sg"))
        .agg(sum(col("c_all")).as("n_total"))
      val risk = graft.ops.PrefixSum.groupedRunningSum(
          byDur, "sg", "dur", col("c_all"), "cum_all")
        .join(tot, Seq("sg"))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
        .filter(col("d") > 0 && col("n_risk") > col("d"))
        .withColumn("lnS", log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")))
      risk.groupBy(col("sg"))
        .agg(first(col("n_total")).as("n_customers"),
          round(exp(sum(when(col("dur") <= 30, col("lnS"))
            .otherwise(0.0))), 6).as("s30"),
          round(exp(sum(when(col("dur") <= 60, col("lnS"))
            .otherwise(0.0))), 6).as("s60"),
          round(exp(sum(when(col("dur") <= 90, col("lnS"))
            .otherwise(0.0))), 6).as("s90"))
        .select(col("sg").as("segment"), col("n_customers"), col("s30"),
          col("s60"), col("s90"))
        .orderBy(col("segment"))
    }),

    "q477_successive_halving" -> ((s, dir) => {
      // successive-halving tournament over the 20 sources by mean doc
      // quality on NESTED deterministic samples (keyHash buckets 10% →
      // 20% → 40% → 80%, survivors 20 → 10 → 5 → 2) — the hyperband-
      // style budget allocator for corpus curation. Each round is one
      // conditional mean over the (bounded) survivor set; sources with
      // no sampled docs score 0 and get cut.
      val docs = t(s, dir, "documents")
        .select(col("source"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality"),
          pmod(graft.ops.Sampling.keyHash(col("doc_id")), lit(100L))
            .as("b"))
        .materialize
      val rounds = Seq((10, 10), (20, 5), (40, 2), (80, 2))
      var survivors = docs.select(col("source")).distinct()
      var means: DataFrame = null
      for (((frac, keep), i) <- rounds.zipWithIndex) {
        val m = docs.join(survivors, Seq("source"), "left_semi")
          .groupBy(col("source"))
          .agg(coalesce(avg(when(col("b") < frac, col("quality"))),
            lit(0.0)).as("m"))
        val ranked = m.withColumn("rk", row_number().over(
          Window.orderBy(col("m").desc, col("source"))))
        means = ranked
        survivors = ranked.filter(col("rk") <= keep)
          .select(col("source")).materializeEager
      }
      val out = means.filter(col("rk") <= 2)
        .select(col("rk").cast("long").as("final_rank"), col("source"),
          round(col("m"), 6).as("mean_quality_80pct"))
        .orderBy(col("final_rank"))
      out
    }),

    "q478_oaxaca" -> ((s, dir) => {
      // Oaxaca-Blinder decomposition of the AUTOMOBILE-vs-BUILDING mean
      // balance gap into the part EXPLAINED by nation composition and
      // the unexplained remainder, over the common-support nations (both
      // groups present) so the identity holds exactly — the econometric
      // gap audit next to q327's Theil split. Cell means collapse
      // map-side; the decomposition runs on the bounded nation grid.
      val base = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_nationkey").as("nk"),
          (col("c_mktsegment") === "AUTOMOBILE").as("isA"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("c"))
      // cell means from EXACT cent sums (one division each) — composite
      // double sums for the group means can land on a .xxxx5 rounding
      // boundary where the engines' round() rules split
      val cells = base.groupBy(col("nk"))
        .agg(sum(when(col("isA"), 1L).otherwise(0L)).cast("double")
          .as("na"),
          sum(when(!col("isA"), 1L).otherwise(0L)).cast("double")
            .as("nb"),
          sum(when(col("isA"), col("c")).otherwise(0L)).as("sa"),
          sum(when(!col("isA"), col("c")).otherwise(0L)).as("sb"))
        .filter(col("na") > 0 && col("nb") > 0)
        .withColumn("ma", col("sa").cast("double") / col("na") / 100.0)
        .withColumn("mb", col("sb").cast("double") / col("nb") / 100.0)
      val tots = cells.agg(sum(col("na")).as("ta"), sum(col("nb"))
        .as("tb"), sum(col("sa")).as("tsa"), sum(col("sb")).as("tsb"))
      val dec = cells.crossJoin(broadcast(tots))
        .agg(count(lit(1)).as("n_nations"),
          first(col("tsa").cast("double") / col("ta") / 100.0)
            .as("mean_a"),
          first(col("tsb").cast("double") / col("tb") / 100.0)
            .as("mean_b"),
          sum((col("na") / col("ta") - col("nb") / col("tb")) *
            col("mb")).as("explained"),
          sum(col("na") / col("ta") * (col("ma") - col("mb")))
            .as("unexplained"))
      dec.select(col("n_nations"), round(col("mean_a"), 4).as("mean_auto"),
        round(col("mean_b"), 4).as("mean_building"),
        round(col("mean_a") - col("mean_b"), 4).as("gap"),
        round(col("explained"), 4).as("explained_by_nation"),
        round(col("unexplained"), 4).as("unexplained"))
    }),

    "q479_cross_elasticity" -> ((s, dir) => {
      // cross-price elasticity: ln(daily quantity of Brand#11) regressed
      // on ln(daily unit price of Brand#12) — the substitute/complement
      // read next to q192's own-price elasticity. Two brand-day rollups,
      // one date join, one closed-form OLS.
      def brandDaily(b: String) = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") === b)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(col("l_quantity").cast("double")).as("qty"),
          (sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .cast("double") / 100.0).as("rev"))
      val a = brandDaily("Brand#11")
        .select(col("d"), log(col("qty")).as("lq"))
      val b = brandDaily("Brand#12")
        .select(col("d"), log(col("rev") / col("qty")).as("lp"))
      val j = a.join(b, Seq("d"))
      j.agg(count(lit(1)).as("n_days"),
          avg(col("lp")).as("mx"), avg(col("lq")).as("my"),
          (avg(col("lp") * col("lq")) - avg(col("lp")) * avg(col("lq")))
            .as("cxy"),
          (avg(col("lp") * col("lp")) - avg(col("lp")) * avg(col("lp")))
            .as("cxx"),
          (avg(col("lq") * col("lq")) - avg(col("lq")) * avg(col("lq")))
            .as("cyy"))
        .select(col("n_days"),
          round(col("cxy") / col("cxx"), 6).as("cross_elasticity"),
          round(col("cxy") * col("cxy") / (col("cxx") * col("cyy")), 6)
            .as("r2"))
    }),

    "q480_logistic_growth" -> ((s, dir) => {
      // logistic adoption-curve fit of cumulative users AT EACH USER'S
      // ARRIVAL INSTANT (exact first-event micros, so the curve keeps
      // one point per user at any event density — a daily rollup
      // saturates to K on day one at bench scale): linearized
      // ln(K/N − 1) = a − r·t OLS, growth rate and inflection hour next
      // to q370's Bass fit. First-seen instants collapse map-side; the
      // curve is user-bounded.
      val firstSeen = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("ft"))
      val k = firstSeen.agg(count(lit(1)).cast("double").as("k"),
        min(col("ft")).as("t0"))
      val ranked = graft.ops.PrefixSum.globalRank(
        firstSeen, Seq(col("ft"), col("user_id")), "i")
      val curve = ranked.crossJoin(broadcast(k))
        .filter(col("i") < col("k"))
        .select(((col("ft") - col("t0")).cast("double") / 3.6e9).as("t"),
          log(col("k") / col("i").cast("double") - 1.0).as("y"),
          col("k"))
      curve.agg(first(col("k")).as("k"),
          count(lit(1)).cast("double").as("n"),
          avg(col("t")).as("mt"), avg(col("y")).as("my"),
          (avg(col("t") * col("y")) - avg(col("t")) * avg(col("y")))
            .as("cty"),
          (avg(col("t") * col("t")) - avg(col("t")) * avg(col("t")))
            .as("ctt"),
          (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
            .as("cyy"))
        .select(col("k").cast("long").as("k_users"),
          col("n").cast("long").as("n_points"),
          round(-(col("cty") / col("ctt")), 6).as("growth_rate"),
          round((col("my") - col("cty") / col("ctt") * col("mt")) /
            (-(col("cty") / col("ctt"))), 4).as("t_inflection_hours"),
          round(col("cty") * col("cty") / (col("ctt") * col("cyy")), 6)
            .as("r2"))
    }),

    "q481_cointegration" -> ((s, dir) => {
      // Engle-Granger cointegration of the BUILDING and MACHINERY daily
      // log-revenue LEVELS: cointegrating OLS, then the Dickey-Fuller
      // no-intercept regression Δe on e₋₁ of the residual — do the two
      // series share a common trend (q332's Granger asks about lead-lag
      // in differences). Calendar-bounded windows; two closed-form OLS
      // passes.
      def seg(name: String) = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("rev"))
      val j = seg("BUILDING").select(col("d"), log(col("rev")).as("x"))
        .join(seg("MACHINERY").select(col("d"), log(col("rev")).as("y")),
          Seq("d"))
      val fit = j.agg(count(lit(1)).as("n"), avg(col("x")).as("mx"),
        avg(col("y")).as("my"),
        ((avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) /
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))))
          .as("b"))
      val resid = j.crossJoin(broadcast(fit))
        .select(col("d"), col("n"),
          (col("y") - col("my") - col("b") * (col("x") - col("mx")))
            .as("e"))
      val w = Window.orderBy(col("d"))
      val df0 = resid.withColumn("ep", lag(col("e"), 1).over(w))
        .filter(col("ep").isNotNull)
        .select(col("n"), (col("e") - col("ep")).as("de"), col("ep"))
      val dfFit = df0.agg(first(col("n")).as("n_"),
        (sum(col("ep") * col("de")) / sum(col("ep") * col("ep")))
          .as("rho"),
        sum(col("ep") * col("ep")).as("see"),
        count(lit(1)).cast("double").as("m"))
      val sse = df0.drop("n").crossJoin(broadcast(dfFit))
        .agg(first(col("n_")).as("n"), first(col("rho")).as("rho"),
          first(col("see")).as("see"), first(col("m")).as("m"),
          sum((col("de") - col("rho") * col("ep")) *
            (col("de") - col("rho") * col("ep"))).as("sse"))
      val dfStat = col("rho") /
        sqrt(col("sse") / (col("m") - 1) / col("see"))
      sse.crossJoin(broadcast(fit.select(col("b"))))
        .select(col("n").as("n_days"), round(col("b"), 6)
            .as("coint_beta"),
          round(col("rho"), 6).as("rho"),
          round(dfStat, 4).as("df_stat"),
          (dfStat < -3.34).as("cointegrated_5pct"))
    }),

    "q482_kalman_level" -> ((s, dir) => {
      // local-level Kalman filter over the 30-day event-count series
      // (R = series variance, Q = R/10 — both data-derived so the
      // recursion is engine-identical): 29 predict/update steps folded
      // over the days of the ONE-row wide frame as one Recurrence
      // (q391's pattern), innovation RMSE accumulated in-fold — the
      // state-space smoother next to q207's EWMA.
      val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      val idx = events(s, dir).crossJoin(broadcast(d0))
        .select(datediff(to_date(col("ts")), col("d0")).as("k"))
      val aggs = (0 to 29).map(k =>
        sum(when(col("k") === k, 1L).otherwise(0L)).cast("double")
          .as(s"y$k"))
      val wide = idx.agg(aggs.head, aggs.tail: _*)
      val ys = (0 to 29).map(k => col(s"y$k"))
      val meanY = ys.reduce(_ + _) / 30.0
      val varY = ys.map(y => (y - meanY) * (y - meanY)).reduce(_ + _) /
        30.0
      val kf = Recurrence.overInputs(Seq("x" -> col("y0"), "r" -> varY,
          "q" -> varY / 10.0, "p" -> varY, "sse" -> lit(0.0)),
          array(ys.tail: _*)) { (st, y) =>
        val pPred = st("p") + st("q")
        val kg = pPred / (pPred + st("r"))
        val innov = y - st("x")
        Seq(st("x") + kg * innov, st("r"), st("q"), (lit(1.0) - kg) * pPred,
          st("sse") + innov * innov)
      }
      wide.select(kf.as("kf")).select(lit(30L).as("n_days"),
        round(col("kf.x"), 4).as("final_level"),
        round((col("kf.p") + col("kf.q")) /
          (col("kf.p") + col("kf.q") + col("kf.r")), 6).as("steady_gain"),
        round(sqrt(col("kf.sse") / 29.0), 4).as("innovation_rmse"))
    }),

    "q483_graph_churn" -> ((s, dir) => {
      // edge churn of the item-transition graph between the corpus's
      // first and last weeks: retained / added / dropped edges and edge
      // Jaccard — the graph-evolution read on q134's fixture. Two
      // distinct-edge rollups + one full outer join on id pairs.
      val ev = itemTransitionsByDay(s, dir)
      def week(lo: Int, hi: Int) = ev
        .filter(col("day").between(lo, hi))
        .select(col("src"), col("item").as("dst")).distinct()
      val w0 = week(0, 6).withColumn("in0", lit(1L))
      val w3 = week(21, 27).withColumn("in3", lit(1L))
      val full = w0.join(w3, Seq("src", "dst"), "full_outer")
      full.agg(
          sum(when(col("in0").isNotNull, 1L).otherwise(0L))
            .as("edges_week0"),
          sum(when(col("in3").isNotNull, 1L).otherwise(0L))
            .as("edges_week3"),
          sum(when(col("in0").isNotNull && col("in3").isNotNull, 1L)
            .otherwise(0L)).as("retained"),
          sum(when(col("in0").isNull && col("in3").isNotNull, 1L)
            .otherwise(0L)).as("added"),
          sum(when(col("in0").isNotNull && col("in3").isNull, 1L)
            .otherwise(0L)).as("dropped"),
          count(lit(1)).as("union_edges"))
        .select(col("edges_week0"), col("edges_week3"), col("retained"),
          col("added"), col("dropped"),
          round(col("retained").cast("double") / col("union_edges"), 6)
            .as("edge_jaccard"))
    }),

    "q484_stockout_signal" -> ((s, dir) => {
      // zero-sales-day anomaly per brand: observed zero days vs the
      // Poisson expectation D·e^(−λ) at the brand's own daily rate,
      // binomial z — flags brands whose silence runs exceed chance (the
      // availability signal behind q283's newsvendor). Brand-day rollups
      // collapse map-side; the test runs on the bounded brand table.
      val days = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d")).distinct()
      val nDays = days.agg(count(lit(1)).cast("double").as("dd"))
      val brandDays = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("o_orderdate").cast("date"))
          .cast("double").as("active"), count(lit(1)).cast("double")
          .as("n_items"))
      val z = brandDays.crossJoin(broadcast(nDays))
        .withColumn("lam", col("n_items") / col("dd"))
        .withColumn("p0", exp(-col("lam")))
        .withColumn("zero_obs", col("dd") - col("active"))
        .withColumn("zero_exp", col("dd") * col("p0"))
        .withColumn("z", (col("zero_obs") - col("zero_exp")) /
          sqrt(col("dd") * col("p0") * (lit(1.0) - col("p0"))))
      z.select(col("p_brand"), col("zero_obs").cast("long")
          .as("zero_days"),
          round(col("zero_exp"), 2).as("expected_zero_days"),
          round(col("z"), 4).as("z"),
          (col("z") > 2.0).as("excess_stockouts"))
        .orderBy(col("p_brand"))
    }),

    "q485_huber_location" -> ((s, dir) => {
      // Huber M-estimator of the balance center (k = 1.345, scale =
      // 1.4826·MAD, 3 IRLS steps from the mean) — the soft-clipping
      // robust location between q387's hard trim and the raw mean. Two
      // exact median passes for the scale, then one weighted aggregate
      // per step with the scalar state broadcast back.
      val xs = ScaleChecks.boundedDomain(
        t(s, dir, "customer")
          .select(col("c_acctbal").cast("double").as("x")),
        "account balances are 2-decimal values on a bounded range: a " +
          "fixed ~1.1M-cell cent grid (deviations stay on the half-cent " +
          "grid), not row-tracking",
        budget = 1100000L)
      val med = xs.agg(expr("percentile(x, 0.5)").as("med"))
      val mad = xs.crossJoin(broadcast(med))
        .agg(first(col("med")).as("med"),
          expr("percentile(abs(x - med), 0.5)").as("mad"))
        .select(col("med"), (lit(1.4826) * col("mad")).as("s"))
      var mu = xs.agg(avg(col("x")).as("mu"))
      for (it <- 1 to 3) {
        val j = xs.crossJoin(broadcast(mu)).crossJoin(broadcast(mad))
        val w = least(lit(1.0),
          lit(1.345) * col("s") /
            greatest(abs(col("x") - col("mu")), lit(1e-9)))
        mu = j.select(col("x"), w.as("w"))
          .agg((sum(col("w") * col("x")) / sum(col("w"))).as("mu"))
      }
      xs.agg(count(lit(1)).as("n"), avg(col("x")).as("mean"))
        .crossJoin(broadcast(med)).crossJoin(broadcast(mu))
        .select(col("n"), round(col("mean"), 4).as("mean"),
          round(col("med"), 4).as("median"),
          round(col("mu"), 4).as("huber_location"))
    }),

    "q486_partition_agreement" -> ((s, dir) => {
      // adjusted Rand index + normalized mutual information between two
      // supplier partitions — nation vs spatial quadrant of the LCG
      // coordinates: does geography-by-key match geography-by-space?
      // The clustering-agreement scorecard (q367/q368 judge ONE
      // clustering; this compares two). Contingency cells collapse
      // map-side; all index algebra runs on the bounded grid.
      val sup = t(s, dir, "supplier")
        .select(col("s_nationkey").cast("long").as("a"),
          (pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L))
            .cast("long") / 500000L).cast("long") * 2 +
            (pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L))
              .cast("long") / 500000L).cast("long")).toDF("a", "b")
      val cells = sup.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("double").as("nij"))
      val rowS = cells.groupBy(col("a")).agg(sum(col("nij")).as("ai"))
      val colS = cells.groupBy(col("b")).agg(sum(col("nij")).as("bj"))
      val n = cells.agg(sum(col("nij")).as("nn"))
      def c2(c: Column) = c * (c - 1) / 2.0
      val sums = cells.agg(sum(c2(col("nij"))).as("sij"))
        .crossJoin(broadcast(rowS.agg(sum(c2(col("ai"))).as("sa"))))
        .crossJoin(broadcast(colS.agg(sum(c2(col("bj"))).as("sb"))))
        .crossJoin(broadcast(n))
      val exp_ = col("sa") * col("sb") / c2(col("nn"))
      val ari = (col("sij") - exp_) /
        ((col("sa") + col("sb")) / 2.0 - exp_)
      val mi = cells.join(broadcast(rowS), Seq("a"))
        .join(broadcast(colS), Seq("b"))
        .crossJoin(broadcast(n))
        .agg(sum(col("nij") / col("nn") *
          log(col("nij") * col("nn") / (col("ai") * col("bj"))))
          .as("mi"))
      val ha = rowS.crossJoin(broadcast(n))
        .agg(sum(-(col("ai") / col("nn")) * log(col("ai") / col("nn")))
          .as("ha"))
      val hb = colS.crossJoin(broadcast(n))
        .agg(sum(-(col("bj") / col("nn")) * log(col("bj") / col("nn")))
          .as("hb"))
      sums.crossJoin(broadcast(mi)).crossJoin(broadcast(ha))
        .crossJoin(broadcast(hb))
        .select(col("nn").cast("long").as("n_points"),
          round(ari, 6).as("ari"),
          round(col("mi") / sqrt(col("ha") * col("hb")), 6).as("nmi"))
    }),

    "q487_mean_excess" -> ((s, dir) => {
      // mean-excess (mean-residual-life) curve of order values at the
      // 50..90% exact-rank thresholds — the EVT diagnostic behind q386's
      // GPD fit (a ~linear rise means the Pareto tail assumption holds).
      // One global rank for the thresholds, then one conditional
      // aggregate over the fixed 5-threshold explode.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
      val n = base.agg(count(lit(1)).as("n"))
      val ranked = graft.ops.PrefixSum.globalRank(
        base, Seq(col("v"), col("ok")), "rk")
      val pcts = s.range(5, 10).select((col("id") * 10).as("pct"))
      val thr = ranked.crossJoin(broadcast(n)).crossJoin(broadcast(pcts))
        .filter(col("rk") === expr("(n * pct) div 100"))
        .select(col("pct"), col("v").as("u"))
      val exceed = base.crossJoin(broadcast(
          thr.select(col("pct"), col("u"))))
        .filter(col("v") > col("u"))
        .groupBy(col("pct"), col("u"))
        .agg(count(lit(1)).as("n_exceed"),
          avg((col("v") - col("u")).cast("double") / 100.0)
            .as("mean_excess"))
      exceed.select(col("pct").cast("long").as("pct"),
          round(col("u").cast("double") / 100.0, 2).as("threshold"),
          col("n_exceed"), round(col("mean_excess"), 4).as("mean_excess"))
        .orderBy(col("pct"))
    }),

    "q488_first_passage" -> ((s, dir) => {
      // expected first-passage steps to 'purchase' from each other event
      // type under the q163 Markov kernel: h_i = 1 + Σ_{j≠purchase}
      // p_ij·h_j solved by 20 Jacobi sweeps on a ONE-row frame (the
      // bounded 4-unknown system; one Recurrence) — the
      // time-to-conversion read the transition matrix alone doesn't
      // give.
      val types = Seq("click", "error", "signup", "view")
      val tr = eventTransitions(s, dir)
      val rowTot = tr.groupBy(col("src")).agg(sum(col("c")).as("rt"))
      val p = tr.join(rowTot, Seq("src"))
        .select(col("src"), col("dst"), (col("c") / col("rt")).as("p"))
      val pAggs = for { i <- types; j <- types } yield
        coalesce(max(when(col("src") === i && col("dst") === j,
          col("p"))), lit(0.0)).as(s"p_${i}_$j")
      val h = Recurrence.iterate(types.map(i => s"h_$i" -> lit(1.0)), 20) {
        st => types.map { i =>
          lit(1.0) + types.map(j => col(s"p_${i}_$j") * st(s"h_$j"))
            .reduce(_ + _)
        }
      }
      p.agg(pAggs.head, pAggs.tail: _*)
        .select(h.as("h"))
        .select(types.map(i => col(s"h.h_$i").as(s"h_$i")): _*)
        .selectExpr("stack(4, " + types.map(i =>
          s"'$i', round(h_$i, 4)").mkString(", ") +
          ") AS (from_state, expected_steps_to_purchase)")
        .orderBy(col("from_state"))
    }),

    "q489_gini_decomposition" -> ((s, dir) => {
      // Pyatt decomposition of the lifetime-spend Gini into between-
      // segment, within-segment, and overlap components — WHERE the
      // q170 inequality lives. Overall and per-segment Ginis from exact
      // rank·value sums accumulated in DECIMAL (rank × cents products
      // overflowed the long accumulator at the f30 relational scale-up;
      // decimal keeps them exact to 1e38, and the double conversion on
      // the finished sums is bit-exact below 2^53 — every oracle sf).
      // Per-segment windows shuffle once on the segment key; the
      // between term runs on the bounded 5×5 mean grid.
      val spend = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"), col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("x"))
      val overall = graft.ops.PrefixSum.globalRank(
          spend, Seq(col("x"), col("o_custkey")), "r")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x").cast("decimal(18,0)")).cast("double").as("sx"),
          sum(col("r").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("double").as("srx"))
        .select(col("n"), col("sx"),
          (lit(2.0) * col("srx") / (col("n") * col("sx")) -
            (col("n") + 1) / col("n")).as("g"))
      val wG = Window.partitionBy(col("sg"))
        .orderBy(col("x"), col("o_custkey"))
      val perSeg = spend.withColumn("r", row_number().over(wG))
        .groupBy(col("sg"))
        .agg(count(lit(1)).cast("double").as("ng"),
          sum(col("x").cast("decimal(18,0)")).cast("double").as("sxg"),
          sum(col("r").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("double").as("srxg"))
        .withColumn("gg", lit(2.0) * col("srxg") /
          (col("ng") * col("sxg")) - (col("ng") + 1) / col("ng"))
        .withColumn("mu", col("sxg") / col("ng"))
      val within = perSeg.crossJoin(broadcast(overall))
        .agg(sum(col("ng") / col("n") * (col("sxg") / col("sx")) *
          col("gg")).as("within"))
      val between = perSeg.select(col("sg").as("s1"), col("ng").as("n1"),
          col("mu").as("m1"))
        .crossJoin(perSeg.select(col("ng").as("n2"), col("mu").as("m2")))
        .crossJoin(broadcast(overall))
        .agg(first(col("n")).as("n"), first(col("sx")).as("sx"),
          first(col("g")).as("g"),
          (sum(col("n1") * col("n2") * abs(col("m1") - col("m2"))) /
            (lit(2.0) * first(col("n")) * first(col("n")) *
              (first(col("sx")) / first(col("n"))))).as("between"))
      between.crossJoin(broadcast(within))
        .select(round(col("g"), 6).as("gini_total"),
          round(col("between"), 6).as("between_groups"),
          round(col("within"), 6).as("within_groups"),
          round(col("g") - col("between") - col("within"), 6)
            .as("overlap"))
    }),

    "q490_dorfman" -> ((s, dir) => {
      // Dorfman pooled-testing design at the observed defect rate (share
      // of returned lineitems): expected tests per item 1/s + 1 −
      // (1−p)^s for pool sizes 2..12, best size flagged — the group-
      // testing cost curve QA teams size batches with. One defect-rate
      // aggregate + a fixed 11-row grid.
      val p = t(s, dir, "lineitem")
        .agg((sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("p"))
      val sizes = s.range(2, 13).select(col("id").as("sz"))
      val curve = sizes.crossJoin(broadcast(p))
        .withColumn("ept", lit(1.0) / col("sz") + 1.0 -
          pow(lit(1.0) - col("p"), col("sz").cast("double")))
      val best = curve.agg(min(col("ept")).as("mn"))
      curve.crossJoin(broadcast(best))
        .select(col("sz").as("pool_size"), round(col("p"), 6)
            .as("defect_rate"),
          round(col("ept"), 6).as("expected_tests_per_item"),
          (col("ept") === col("mn")).as("is_optimal"))
        .orderBy(col("pool_size"))
    }),

    "q491_systematic_pps" -> ((s, dir) => {
      // Madow systematic PPS sample of 100 parts by retail-price weight:
      // integer cumulative weights, step = total div 100, an item is hit
      // once per step boundary its weight span crosses — the fixed-size
      // companion to q361's Horvitz-Thompson. One grouped prefix sum in
      // exact integers; selection is a per-row floor comparison.
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("pk"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
            .as("w"))
      val tot = parts.agg(sum(col("w")).as("tw"),
        count(lit(1)).as("n_items"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        parts.withColumn("__g", lit(1)), "__g", "pk", col("w"), "cw")
      val hits = cum.crossJoin(broadcast(tot))
        .withColumn("step", expr("tw div 100"))
        .withColumn("k", expr("cw div step - (cw - w) div step"))
        .filter(col("k") > 0)
      hits.agg(first(col("n_items")).as("n_items"),
          first(col("tw")).as("tw"),
          count(lit(1)).as("n_hit_items"), sum(col("k")).as("total_hits"),
          sum(col("w")).as("sel_w"))
        .select(col("n_items"), lit(100L).as("n_target"),
          col("n_hit_items"), col("total_hits"),
          round(col("sel_w").cast("double") / col("tw"), 6)
            .as("sel_weight_share"))
    }),

    "q492_aipw_ate" -> ((s, dir) => {
      // doubly-robust AIPW treatment effect of a high balance on order
      // count, with a DELIBERATELY misspecified global outcome model and
      // exact per-nation propensities — the estimator stays consistent
      // through the propensity side (the modern upgrade over q360's
      // plain IPW). Strata with no treated or no control units are
      // dropped and counted.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 5000.0).as("tr"),
          coalesce(col("cnt"), lit(0L)).cast("double").as("y"))
      val gm = base.agg(
        avg(when(col("tr"), col("y"))).as("m1"),
        avg(when(!col("tr"), col("y"))).as("m0"))
      val strat = base.groupBy(col("nk"))
        .agg(count(lit(1)).cast("double").as("ns"),
          sum(when(col("tr"), 1L).otherwise(0L)).cast("double")
            .as("nt"))
        .withColumn("e", col("nt") / col("ns"))
      val ok = strat.filter(col("e") > 0 && col("e") < 1)
        .select(col("nk"), col("e"))
      val nDropped = strat.filter(!(col("e") > 0 && col("e") < 1))
        .agg(count(lit(1)).as("n_dropped_strata"))
      val units = base.join(ok, Seq("nk")).crossJoin(broadcast(gm))
      val est = units.agg(count(lit(1)).cast("double").as("n"),
        avg(col("m1") - col("m0") +
          when(col("tr"), (col("y") - col("m1")) / col("e"))
            .otherwise(-(col("y") - col("m0")) /
              (lit(1.0) - col("e")))).as("aipw"),
        (sum(when(col("tr"), col("y") / col("e")).otherwise(0.0)) /
          sum(when(col("tr"), lit(1.0) / col("e")).otherwise(0.0)) -
          sum(when(!col("tr"), col("y") / (lit(1.0) - col("e")))
            .otherwise(0.0)) /
          sum(when(!col("tr"), lit(1.0) / (lit(1.0) - col("e")))
            .otherwise(0.0))).as("ipw"),
        (avg(when(col("tr"), col("y"))) -
          avg(when(!col("tr"), col("y")))).as("naive"))
      est.crossJoin(broadcast(nDropped))
        .select(col("n").cast("long").as("n_units"),
          col("n_dropped_strata"),
          round(col("naive"), 4).as("ate_naive"),
          round(col("ipw"), 4).as("ate_ipw"),
          round(col("aipw"), 4).as("ate_aipw"))
    }),

    "q493_ripley_k" -> ((s, dir) => {
      // Ripley's K / L at three radii over the LCG supplier points
      // (naive estimator, no edge correction — documented): the
      // SECOND-ORDER point-pattern summary next to q414's
      // nearest-neighbor test, pairs from the same eps-cell expansion
      // (cell = max radius) — never all-pairs.
      val eps = 60000L
      val sup = supplierPoints(s, dir)
      val offs = s.range(-1, 2).select(col("id").as("dx"))
        .crossJoin(s.range(-1, 2).select(col("id").as("dy")))
      val expd = sup.crossJoin(broadcast(offs))
        .select(col("sk"), col("x"), col("y"),
          (expr(s"x div $eps") + col("dx")).as("cx"),
          (expr(s"y div $eps") + col("dy")).as("cy"))
      val base = sup
        .withColumn("cx", expr(s"x div $eps"))
        .withColumn("cy", expr(s"y div $eps"))
      val d2s = base.as("a").join(expd.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
            col("a.sk") =!= col("b.sk"))
        .select(((col("a.x") - col("b.x")) * (col("a.x") - col("b.x")) +
          (col("a.y") - col("b.y")) * (col("a.y") - col("b.y")))
          .as("d2"))
      val n = sup.agg(count(lit(1)).cast("double").as("n"))
      val radii = s.range(1, 4).select((col("id") * 20000L).as("r"))
      val k0 = d2s.crossJoin(broadcast(radii))
        .filter(col("d2") <= col("r") * col("r"))
        .groupBy(col("r")).agg(count(lit(1)).cast("double").as("np0"))
      // left join back so sparse fixtures still emit every radius row
      val k = radii.join(k0, Seq("r"), "left")
        .withColumn("np", coalesce(col("np0"), lit(0.0)))
        .crossJoin(broadcast(n))
        .withColumn("khat",
          lit(1e12) * col("np") / (col("n") * (col("n") - 1)))
      k.select(col("r"), col("np").cast("long").as("n_pairs"),
          round(col("khat") / 1e9, 4).as("k_hat_1e9"),
          round(sqrt(col("khat") / math.Pi) - col("r"), 2)
            .as("l_minus_r"))
        .orderBy(col("r"))
    }),

    "q494_preferential_attachment" -> ((s, dir) => {
      // preferential-attachment test on the item-transition graph: do
      // items with higher week-0 in-degree gain NEW in-edges faster over
      // the rest of the corpus? log-log OLS of new-edge count on initial
      // degree — the rich-get-richer exponent behind q483's churn
      // counts. Two distinct-edge rollups + one anti-join, OLS closed
      // form.
      val ev = itemTransitionsByDay(s, dir)
      val w0 = ev.filter(col("day") <= 6)
        .select(col("src"), col("item").as("dst")).distinct()
      val later = ev.filter(col("day") > 6)
        .select(col("src"), col("item").as("dst")).distinct()
        .join(w0, Seq("src", "dst"), "left_anti")
      val deg0 = w0.groupBy(col("dst")).agg(count(lit(1)).as("d0deg"))
      val gain = later.groupBy(col("dst")).agg(count(lit(1)).as("newdeg"))
      val j = deg0.join(gain, Seq("dst"))
        .filter(col("d0deg") > 0 && col("newdeg") > 0)
        .select(log(col("d0deg").cast("double")).as("lx"),
          log(col("newdeg").cast("double")).as("ly"))
      j.agg(count(lit(1)).as("n_items"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            / (avg(col("lx") * col("lx")) - avg(col("lx")) *
              avg(col("lx")))).as("alpha"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            * (avg(col("lx") * col("ly")) - avg(col("lx")) *
              avg(col("ly"))) /
            ((avg(col("lx") * col("lx")) - avg(col("lx")) * avg(col("lx")))
              * (avg(col("ly") * col("ly")) - avg(col("ly")) *
                avg(col("ly"))))).as("r2"))
        .select(col("n_items"), round(col("alpha"), 6)
            .as("attachment_exponent"),
          round(col("r2"), 6).as("r2"))
    }),

    "q495_sample_entropy" -> ((s, dir) => {
      // sample entropy (m=2, r=0.2σ) of the daily event-count series —
      // the template-matching irregularity measure next to q366's
      // permutation entropy: SampEn = −ln(A/B) with B/A the 2-/3-length
      // template match counts. The triangular self-join is day² on the
      // calendar-bounded frame (intentional); matches use the Chebyshev
      // distance.
      val daily = dailyEvents(s, dir)
      val sd = daily.agg((sqrt(avg(col("y") * col("y")) -
        avg(col("y")) * avg(col("y"))) * 0.2).as("r"))
      val w = Window.orderBy(col("d"))
      val tpl = daily
        .withColumn("y1", lead(col("y"), 1).over(w))
        .withColumn("y2", lead(col("y"), 2).over(w))
        .withColumn("i", row_number().over(w))
      val t2 = tpl.filter(col("y1").isNotNull)
        .select(col("i"), col("y"), col("y1"))
      val t3 = tpl.filter(col("y2").isNotNull)
        .select(col("i"), col("y"), col("y1"), col("y2"))
      val b = t2.as("a").join(t2.as("b"), col("a.i") < col("b.i"))
        .crossJoin(broadcast(sd))
        .filter(greatest(abs(col("a.y") - col("b.y")),
          abs(col("a.y1") - col("b.y1"))) <= col("r"))
        .agg(count(lit(1)).cast("double").as("bb"))
      val a = t3.as("a").join(t3.as("b"), col("a.i") < col("b.i"))
        .crossJoin(broadcast(sd))
        .filter(greatest(abs(col("a.y") - col("b.y")),
          abs(col("a.y1") - col("b.y1")),
          abs(col("a.y2") - col("b.y2"))) <= col("r"))
        .agg(count(lit(1)).cast("double").as("aa"))
      b.crossJoin(broadcast(a)).crossJoin(broadcast(sd))
        .select(round(col("r"), 4).as("tolerance"),
          col("bb").cast("long").as("matches_m2"),
          col("aa").cast("long").as("matches_m3"),
          when(col("aa") > 0 && col("bb") > 0,
            round(-log(col("aa") / col("bb")), 6)).as("sampen"))
    }),

    "q496_poisson_changepoint" -> ((s, dir) => {
      // single Poisson changepoint in the daily error-count series by
      // likelihood-ratio scan over all 29 splits (the parametric
      // companion to q326's rank-based Pettitt): LLR(s) = S₁ln(S₁/n₁) +
      // S₂ln(S₂/n₂) − S·ln(S/n), argmax with earliest-day ties. One
      // prefix sum over the calendar-bounded frame; x·ln(x) guarded at
      // zero.
      val daily = events(s, dir)
        .filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val rn = Window.orderBy(col("d"))
      val cum = daily
        .withColumn("s1", sum(col("c")).over(w).cast("double"))
        .withColumn("n1", row_number().over(rn).cast("double"))
      val tot = daily.agg(sum(col("c")).cast("double").as("ss"),
        count(lit(1)).cast("double").as("nn"))
      val xlnx = (x: Column, nd: Column) =>
        when(x > 0, x * log(x / nd)).otherwise(lit(0.0))
      val scans = cum.crossJoin(broadcast(tot))
        .filter(col("n1") < col("nn"))
        .withColumn("llr",
          xlnx(col("s1"), col("n1")) +
            xlnx(col("ss") - col("s1"), col("nn") - col("n1")) -
            xlnx(col("ss"), col("nn")))
      scans.orderBy(col("llr").desc, col("d")).limit(1)
        .select(date_format(col("d"), "yyyy-MM-dd").as("last_day_before"),
          round(col("llr"), 6).as("llr"),
          round(col("s1") / col("n1"), 4).as("rate_before"),
          round((col("ss") - col("s1")) / (col("nn") - col("n1")), 4)
            .as("rate_after"))
    }),

    "q497_kendall_w" -> ((s, dir) => {
      // Kendall's W concordance of the three q460 brand leaderboards
      // (revenue / quantity / order count): W = 12S/(m²(n³−n)) over the
      // rank sums — do the criteria agree at all, before q460 fuses
      // them? Rankings are exact permutations on the bounded brand
      // table; the statistic is one tiny aggregate.
      val br = brandRevenue(s, dir)
      val ranked = br
        .withColumn("r1", row_number().over(
          Window.orderBy(col("rev").desc, col("p_brand"))).cast("long"))
        .withColumn("r2", row_number().over(
          Window.orderBy(col("qty").desc, col("p_brand"))).cast("long"))
        .withColumn("r3", row_number().over(
          Window.orderBy(col("ords").desc, col("p_brand"))).cast("long"))
        .withColumn("rs", col("r1") + col("r2") + col("r3"))
      val st = ranked.agg(count(lit(1)).cast("double").as("n"),
        sum(col("rs").cast("double") * col("rs")).as("srs2"),
        sum(col("rs")).cast("double").as("srs"))
      val sdev = col("srs2") - col("srs") * col("srs") / col("n")
      val w = lit(12.0) * sdev /
        (lit(9.0) * (col("n") * col("n") * col("n") - col("n")))
      st.select(col("n").cast("long").as("n_brands"),
        round(w, 6).as("kendall_w"),
        round(lit(3.0) * (col("n") - 1) * w, 4).as("chi2"),
        (col("n") - 1).cast("long").as("df"))
    }),

    "q498_taylors_law" -> ((s, dir) => {
      // Taylor's power law (fluctuation scaling): log-log slope of the
      // per-brand daily-sales variance against the mean, zero days
      // included via the global day count — the aggregation-invariance
      // diagnostic behind q384's overdispersion report. Brand-day
      // rollups collapse map-side; the fit runs on the bounded brand
      // table.
      val dd = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d")).distinct()
        .agg(count(lit(1)).cast("double").as("dd"))
      val perDay = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("c"))
      val brand = perDay.groupBy(col("p_brand"))
        .agg(sum(col("c")).cast("double").as("tot"),
          sum(col("c") * col("c")).cast("double").as("s2"))
        .crossJoin(broadcast(dd))
        .withColumn("mu", col("tot") / col("dd"))
        .withColumn("v",
          col("s2") / col("dd") - col("mu") * col("mu"))
        .filter(col("mu") > 0 && col("v") > 0)
        .select(log(col("mu")).as("lx"), log(col("v")).as("ly"))
      brand.agg(count(lit(1)).as("n_brands"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            / (avg(col("lx") * col("lx")) - avg(col("lx")) *
              avg(col("lx")))).as("b"),
          avg(col("lx")).as("mx"), avg(col("ly")).as("my"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            * (avg(col("lx") * col("ly")) - avg(col("lx")) *
              avg(col("ly"))) /
            ((avg(col("lx") * col("lx")) - avg(col("lx")) *
              avg(col("lx"))) *
              (avg(col("ly") * col("ly")) - avg(col("ly")) *
                avg(col("ly"))))).as("r2"))
        .select(col("n_brands"), round(col("b"), 6).as("taylor_exponent"),
          round(col("my") - col("b") * col("mx"), 6).as("log_intercept"),
          round(col("r2"), 6).as("r2"))
    }),

    "q499_qte" -> ((s, dir) => {
      // quantile treatment effects of a high balance on order count:
      // exact within-group decile values (per-group ranks, integer
      // outcomes) differenced at d = 1..9 — the DISTRIBUTIONAL effect
      // q492's single ATE number can't show. Two group windows shuffle
      // once on the treatment flag.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("ck"),
          (col("c_acctbal") > 5000.0).as("tr"),
          coalesce(col("cnt"), lit(0L)).as("y"))
      val wG = Window.partitionBy(col("tr"))
        .orderBy(col("y"), col("ck"))
      val ranked = base.withColumn("rk",
          row_number().over(wG).cast("long"))
        .join(base.groupBy(col("tr")).agg(count(lit(1)).as("ng")),
          Seq("tr"))
      val decs = s.range(1, 10).select(col("id").as("dec"))
      val qs = ranked.crossJoin(broadcast(decs))
        .filter(col("rk") === expr("(ng * dec) div 10"))
        .groupBy(col("dec"))
        .agg(max(when(col("tr"), col("y"))).as("q_treated"),
          max(when(!col("tr"), col("y"))).as("q_control"))
      qs.select(col("dec").as("decile"), col("q_treated"),
          col("q_control"),
          (col("q_treated") - col("q_control")).as("qte"))
        .orderBy(col("decile"))
    }),

    "q500_dataset_manifest" -> ((s, dir) => {
      // dataset manifest: every table fingerprinted by row count + the
      // order-independent sum of the engine's deterministic keyHash over
      // its primary key — the data-versioning stamp a pipeline checks
      // before trusting an input snapshot (any row added, dropped, or
      // re-keyed moves the checksum; the hash and its SQL mirror are the
      // q53 sampling primitives). One aggregate per table, unioned.
      import graft.ops.Sampling.keyHash
      def row(name: String, df: DataFrame, key: Column) =
        df.agg(count(lit(1)).as("n_rows"),
          sum(keyHash(key)).as("key_checksum"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("key_checksum"))
      val li = t(s, dir, "lineitem")
      row("region", t(s, dir, "region"), col("r_regionkey"))
        .union(row("nation", t(s, dir, "nation"), col("n_nationkey")))
        .union(row("customer", t(s, dir, "customer"), col("c_custkey")))
        .union(row("supplier", t(s, dir, "supplier"), col("s_suppkey")))
        .union(row("part", t(s, dir, "part"), col("p_partkey")))
        .union(row("orders", t(s, dir, "orders"), col("o_orderkey")))
        .union(row("lineitem", li,
          col("l_orderkey") * 10 + col("l_linenumber")))
        .union(row("events", events(s, dir), col("event_id")))
        .union(row("documents", t(s, dir, "documents"), col("doc_id")))
        .union(row("embeddings", t(s, dir, "embeddings"), col("vec_id")))
        .orderBy(col("table_name"))
    }),

    "q501_generalization_gap" -> ((s, dir) => {
      // train/holdout generalization audit of the q138 classifier: fit
      // on the deterministic 80% keyHash split, score BOTH partitions at
      // the train-mean threshold, report the accuracy gap — the
      // overfitting check none of the in-sample metrics (q169/q435)
      // give. Same GD fold; the split is engine-identical by the q53
      // hash.
      val len = length(col("text")).cast("double")
      val featAll = t(s, dir, "documents").select(
        (pmod(graft.ops.Sampling.keyHash(col("doc_id")), lit(100L)) < 80)
          .as("istr"),
        lit(1.0).as("f_bias"), (len / 100.0).as("f_len"),
        ((len - length(regexp_replace(col("text"), " ", ""))
          .cast("double")) / len).as("f_space"),
        ((len - length(regexp_replace(col("text"), "[0-9]", ""))
          .cast("double")) / len).as("f_digit"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .materialize
      val cols = Seq("f_bias", "f_len", "f_space", "f_digit")
      val train = featAll.filter(col("istr"))
      val wts = graft.ops.LinearModel.logisticGd(train, cols, "y",
        lr = 0.5, nIter = 3)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = featAll.select(col("istr"), col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val thr = scored.filter(col("istr"))
        .agg(avg(col("p")).as("thr"))
      val out = scored.crossJoin(broadcast(thr))
        .select(col("istr"), col("y"),
          (col("p") >= col("thr")).as("pred"))
        .agg(
          sum(when(col("istr"), 1L).otherwise(0L)).as("n_train"),
          sum(when(!col("istr"), 1L).otherwise(0L)).as("n_test"),
          (sum(when(col("istr") &&
            (col("pred") === (col("y") === 1.0)), 1L).otherwise(0L))
            .cast("double") /
            sum(when(col("istr"), 1L).otherwise(0L))).as("accTr"),
          (sum(when(!col("istr") &&
            (col("pred") === (col("y") === 1.0)), 1L).otherwise(0L))
            .cast("double") /
            sum(when(!col("istr"), 1L).otherwise(0L))).as("accTe"))
        .select(col("n_train"), col("n_test"),
          round(col("accTr"), 6).as("acc_train"),
          round(col("accTe"), 6).as("acc_test"),
          round(col("accTr") - col("accTe"), 6).as("gap"))
      out
    }),

    "q502_percolation_scan" -> ((s, dir) => {
      // percolation curve of the item-transition graph: giant-component
      // share as edges below a weight threshold are removed (thresholds
      // 1..5 on transition counts) — WHEN does the q134 graph fall
      // apart? The only data-sized pass is the edge aggregation; the
      // item graph itself is VOCABULARY-bounded (a dimension, not data),
      // so the scan collects the aggregated edge list once and runs
      // union-find per threshold driver-side — five distributed CC runs
      // here would spend 9s of scheduling on a 100-node graph.
      val wtr = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .select(least(col("src"), col("item")).as("a"),
          greatest(col("src"), col("item")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val edges = wtr.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val nNodes = nodes.length.toDouble
      val rows = (1 to 5).map { thr =>
        val ed = edges.filter(_._3 >= thr)
        val parent = scala.collection.mutable.Map(
          nodes.map(n => n -> n): _*)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          r
        }
        ed.foreach { case (a, b, _) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val giant = if (ed.isEmpty) 0L
          else nodes.groupBy(find).values.map(_.length).max.toLong
        (thr.toLong, ed.length.toLong, giant)
      }
      s.createDataFrame(rows)
        .toDF("min_weight", "n_edges", "giant_component")
        .withColumn("giant_share",
          round(col("giant_component").cast("double") / nNodes, 6))
        .orderBy(col("min_weight"))
    }),

    "q503_concentration_index" -> ((s, dir) => {
      // concentration index (health-economics CI): is order activity
      // concentrated among high-balance customers? CI = 2·cov(y, R)/μ_y
      // with R the fractional balance rank — the bivariate companion to
      // q170's Gini (which concentrates y against its own rank). One
      // global rank + one covariance aggregate.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("ck"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal"),
          coalesce(col("cnt"), lit(0L)).cast("double").as("y"))
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("bal"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("r",
          (col("rk").cast("double") - 0.5) / col("n"))
      ranked.agg(count(lit(1)).cast("double").as("nn"),
          avg(col("y")).as("muy"),
          (avg(col("y") * col("r")) - avg(col("y")) * avg(col("r")))
            .as("cov"))
        .select(col("nn").cast("long").as("n_cust"),
          round(col("muy"), 4).as("mean_orders"),
          round(lit(2.0) * col("cov") / col("muy"), 6)
            .as("concentration_index"))
    }),

    "q504_anova_effect_sizes" -> ((s, dir) => {
      // ANOVA effect sizes for segment on balance: eta² (variance
      // explained) and the less-biased omega² — the magnitude companions
      // to q336's F test (significance without size is q428's complaint
      // in the k-group setting). Same group-moment machinery as q457's
      // ICC.
      val y = t(s, dir, "customer")
        .select(col("c_mktsegment").as("g"),
          (expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("y"))
      val grp = y.groupBy(col("g"))
        .agg(count(lit(1)).cast("double").as("ng"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
      val ag = grp.agg(count(lit(1)).cast("double").as("a"),
        sum(col("ng")).as("nn"), sum(col("sy")).as("ty"),
        sum(col("syy")).as("tyy"),
        sum(col("sy") * col("sy") / col("ng")).as("ssbRaw"))
      val ssb = col("ssbRaw") - col("ty") * col("ty") / col("nn")
      val sst = col("tyy") - col("ty") * col("ty") / col("nn")
      val msw = (col("tyy") - col("ssbRaw")) / (col("nn") - col("a"))
      ag.select(col("nn").cast("long").as("n"),
        col("a").cast("long").as("n_groups"),
        round(ssb / sst, 6).as("eta2"),
        round((ssb - (col("a") - 1) * msw) / (sst + msw), 6)
          .as("omega2"),
        round((ssb / (col("a") - 1)) / msw, 4).as("f_stat"))
    }),

    "q505_yuen_test" -> ((s, dir) => {
      // Yuen's trimmed-means t-test (20% trim, winsorized variance,
      // Welch-Satterthwaite df) for 1995 vs 1996 order values — the
      // outlier-robust two-sample test completing q269 (Welch) and q387
      // (robust location). Per-group exact rank cutoffs, then winsorized
      // moments in one conditional aggregate.
      val base = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
      val wG = Window.partitionBy(col("yr")).orderBy(col("v"), col("ok"))
      val ranked = base.withColumn("rk", row_number().over(wG)
          .cast("long"))
        .join(base.groupBy(col("yr")).agg(count(lit(1)).as("ng")),
          Seq("yr"))
        .withColumn("k", expr("(ng * 2) div 10"))
      val cuts = ranked
        .groupBy(col("yr"))
        .agg(max(when(col("rk") === col("k") + 1, col("v"))).as("vlo"),
          max(when(col("rk") === col("ng") - col("k"), col("v")))
            .as("vhi"))
      val wz = ranked.join(cuts, Seq("yr"))
        .withColumn("wv", (least(greatest(col("v"), col("vlo")),
          col("vhi")).cast("double") / 100.0))
        .withColumn("inTrim",
          col("rk") > col("k") && col("rk") <= col("ng") - col("k"))
      val g = wz.groupBy(col("yr"))
        .agg(first(col("ng")).cast("double").as("n"),
          first(col("k")).cast("double").as("k"),
          avg(when(col("inTrim"), col("v").cast("double") / 100.0))
            .as("tm"),
          avg(col("wv")).as("wm"), sum(col("wv") * col("wv")).as("wss"))
        .withColumn("s2w", (col("wss") - col("n") * col("wm") *
          col("wm")) / (col("n") - 1))
        .withColumn("h", col("n") - col("k") * 2)
        .withColumn("dd", col("s2w") * (col("n") - 1) /
          (col("h") * (col("h") - 1)))
      val a = g.filter(col("yr") === 1995)
        .select(col("tm").as("tm1"), col("dd").as("d1"),
          col("h").as("h1"))
      val b = g.filter(col("yr") === 1996)
        .select(col("tm").as("tm2"), col("dd").as("d2"),
          col("h").as("h2"))
      a.crossJoin(broadcast(b))
        .select(col("h1").cast("long").as("h_1995"),
          col("h2").cast("long").as("h_1996"),
          round(col("tm1"), 4).as("trimmed_mean_1995"),
          round(col("tm2"), 4).as("trimmed_mean_1996"),
          round((col("tm1") - col("tm2")) /
            sqrt(col("d1") + col("d2")), 6).as("yuen_t"),
          round((col("d1") + col("d2")) * (col("d1") + col("d2")) /
            (col("d1") * col("d1") / (col("h1") - 1) +
              col("d2") * col("d2") / (col("h2") - 1)), 2).as("df"))
    }),

    "q506_box_cox" -> ((s, dir) => {
      // Box-Cox transform selection for order values: profile
      // log-likelihood −n/2·ln(σ²(t_λ)) + (λ−1)Σln y over the λ grid
      // {−1, −0.5, 0, 0.5, 1} — which power makes the distribution most
      // normal (the prep step q375's Jarque-Bera then validates). One
      // aggregate per λ over the fixed 5-point explode.
      val y = t(s, dir, "orders")
        .select((expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .cast("double") / 100.0).as("y"))
      val lams = s.createDataFrame(Seq(
          Tuple1(-1.0), Tuple1(-0.5), Tuple1(0.0), Tuple1(0.5),
          Tuple1(1.0))).toDF("lam")
      val tx = y.crossJoin(broadcast(lams))
        .withColumn("t", when(col("lam") === 0.0, log(col("y")))
          .otherwise((pow(col("y"), col("lam")) - 1.0) / col("lam")))
      val ll = tx.groupBy(col("lam"))
        .agg(count(lit(1)).cast("double").as("n"),
          (avg(col("t") * col("t")) - avg(col("t")) * avg(col("t")))
            .as("v"),
          sum(log(col("y"))).as("sly"))
        .withColumn("ll", -col("n") / 2.0 * log(col("v")) +
          (col("lam") - 1.0) * col("sly"))
      val best = ll.agg(max(col("ll")).as("mx"))
      ll.crossJoin(broadcast(best))
        .select(col("lam").as("lambda"), round(col("ll"), 2)
            .as("log_likelihood"),
          (col("ll") === col("mx")).as("is_best"))
        .orderBy(col("lambda"))
    }),

    "q507_fleiss_kappa" -> ((s, dir) => {
      // Fleiss' kappa agreement of three deterministic doc "raters"
      // (quality > median, scaled length > median, digit ratio >
      // median): do independent quality heuristics agree beyond chance?
      // — the multi-rater generalization of q260's Cohen kappa. The
      // three medians come from ONE two-phase groupedExactPercentiles
      // pass over melted (feature, value) rows — continuous per-doc
      // scores, so the builtin percentile()'s value→count buffer would
      // grow with the corpus — then one aggregate over per-doc
      // positive counts.
      val len = length(col("text")).cast("double")
      val feats = t(s, dir, "documents").select(
        graft.functions.TextFunctions.qualityScore(col("text"))
          .as("q"),
        (len / 100.0).as("fl"),
        ((len - length(regexp_replace(col("text"), "[0-9]", ""))
          .cast("double")) / len).as("fd"))
        // lazy localCheckpoint (shared by the melted medians + the
        // positive-count pass); blocks free with the result
        .materialize
      val melted = feats.select(explode(array(
          struct(lit("q").as("f"), col("q").as("v")),
          struct(lit("fl").as("f"), col("fl").as("v")),
          struct(lit("fd").as("f"), col("fd").as("v")))).as("kv"))
        .select(col("kv.f").as("f"), col("kv.v").as("v"))
      val meds = graft.ops.PrefixSum.groupedExactPercentiles(
          melted, "f", col("v"), Seq(0.5), Seq("med"))
        .agg(max(when(col("f") === "q", col("med"))).as("mq"),
          max(when(col("f") === "fl", col("med"))).as("ml"),
          max(when(col("f") === "fd", col("med"))).as("md"))
      val pos = feats.crossJoin(broadcast(meds))
        .select((when(col("q") > col("mq"), 1L).otherwise(0L) +
          when(col("fl") > col("ml"), 1L).otherwise(0L) +
          when(col("fd") > col("md"), 1L).otherwise(0L)).as("np"))
      val ag = pos.agg(count(lit(1)).cast("double").as("n"),
        avg((col("np") * (col("np") - 1) +
          (lit(3L) - col("np")) * (lit(2L) - col("np"))).cast("double") /
          6.0).as("pbar"),
        (sum(col("np")).cast("double") / (count(lit(1)) * 3)).as("p1"))
      ag.select(col("n").cast("long").as("n_docs"),
        round(col("pbar"), 6).as("p_bar"),
        round(col("p1") * col("p1") +
          (lit(1.0) - col("p1")) * (lit(1.0) - col("p1")), 6).as("p_e"),
        round((col("pbar") - (col("p1") * col("p1") +
          (lit(1.0) - col("p1")) * (lit(1.0) - col("p1")))) /
          (lit(1.0) - (col("p1") * col("p1") +
            (lit(1.0) - col("p1")) * (lit(1.0) - col("p1")))), 6)
          .as("fleiss_kappa"))
    }),

    "q508_christoffersen" -> ((s, dir) => {
      // Christoffersen independence test on the q437 VaR violation
      // sequence: are breaches CLUSTERED? LR_ind from the violation
      // transition counts vs the iid-Bernoulli null — the second half
      // of the standard VaR backtest (q437 checks the count, this the
      // timing). One lag over the calendar-bounded return series.
      val daily = dailyOrderRevenue(s, dir)
      val w = Window.orderBy(col("d"))
      val r = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("d"), log(col("rev") / col("prev")).as("r"))
      val st = r.agg(avg(col("r")).as("mu"),
        sqrt(avg(col("r") * col("r")) - avg(col("r")) * avg(col("r")))
          .as("sd"))
      val viol = r.crossJoin(broadcast(st))
        .select(col("d"),
          (col("r") < col("mu") - lit(1.645) * col("sd")).as("i"))
        .withColumn("ip", lag(col("i"), 1).over(w))
        .filter(col("ip").isNotNull)
      val cnts = viol.agg(
        sum(when(!col("ip") && !col("i"), 1L).otherwise(0L))
          .cast("double").as("n00"),
        sum(when(!col("ip") && col("i"), 1L).otherwise(0L))
          .cast("double").as("n01"),
        sum(when(col("ip") && !col("i"), 1L).otherwise(0L))
          .cast("double").as("n10"),
        sum(when(col("ip") && col("i"), 1L).otherwise(0L))
          .cast("double").as("n11"))
      val p01 = col("n01") / (col("n00") + col("n01"))
      val p11 = col("n11") / (col("n10") + col("n11"))
      val pp = (col("n01") + col("n11")) /
        (col("n00") + col("n01") + col("n10") + col("n11"))
      val xln = (x: Column, p: Column) =>
        when(x > 0, x * log(p)).otherwise(lit(0.0))
      val lr = lit(-2.0) * (xln(col("n00") + col("n10"), lit(1.0) - pp) +
        xln(col("n01") + col("n11"), pp)) +
        lit(2.0) * (xln(col("n00"), lit(1.0) - p01) +
          xln(col("n01"), p01) + xln(col("n10"), lit(1.0) - p11) +
          xln(col("n11"), p11))
      cnts.select(col("n00").cast("long").as("n00"),
        col("n01").cast("long").as("n01"),
        col("n10").cast("long").as("n10"),
        col("n11").cast("long").as("n11"),
        round(p01, 6).as("p_viol_after_calm"),
        round(p11, 6).as("p_viol_after_viol"),
        round(lr, 6).as("lr_ind"),
        (lr > 3.841).as("reject_independence"))
    }),

    "q509_van_elteren" -> ((s, dir) => {
      // van Elteren stratified Mann-Whitney: high- vs low-balance order
      // counts WITHIN each nation, per-stratum rank sums weighted by
      // 1/(N+1), tie-corrected variance — the nonparametric analog of
      // q439's stratified OR. Midranks come from grouped counts + one
      // per-stratum window over the BOUNDED order-count grid.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 5000.0).as("tr"),
          coalesce(col("cnt"), lit(0L)).as("y"))
      val grid = base.groupBy(col("nk"), col("y"))
        .agg(sum(when(col("tr"), 1L).otherwise(0L)).as("ct"),
          sum(when(!col("tr"), 1L).otherwise(0L)).as("cc"))
        .withColumn("tot", col("ct") + col("cc"))
      val wS = Window.partitionBy(col("nk")).orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val mr = grid.withColumn("cum", sum(col("tot")).over(wS))
        .withColumn("mrk", (col("cum") - col("tot")).cast("double") +
          (col("tot").cast("double") + 1) / 2)
      val strat = mr.groupBy(col("nk"))
        .agg(sum(col("ct")).cast("double").as("n1"),
          sum(col("cc")).cast("double").as("n2"),
          sum(col("ct").cast("double") * col("mrk")).as("ws"),
          sum(col("tot").cast("double") * col("tot") * col("tot") -
            col("tot").cast("double")).as("ties"))
        .withColumn("nn", col("n1") + col("n2"))
        .filter(col("n1") > 0 && col("n2") > 0)
      val ve = strat.agg(count(lit(1)).as("n_strata"),
        sum(col("ws") / (col("nn") + 1)).as("stat"),
        sum(col("n1") / 2.0).as("e"),
        sum(col("n1") * col("n2") / (lit(12.0) * (col("nn") + 1)) *
          (lit(1.0) - col("ties") /
            (col("nn") * col("nn") * col("nn") - col("nn")))).as("v"))
      val z = (col("stat") - col("e")) / sqrt(col("v"))
      val x = abs(z) / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      ve.select(col("n_strata"), round(col("stat"), 4).as("ve_stat"),
        round(col("e"), 4).as("expected"), round(z, 6).as("z"),
        round((lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt)
          * exp(-x * x), 6).as("p_two_sided"))
    }),

    "q510_binwidth_rules" -> ((s, dir) => {
      // histogram bin-width rule gallery for customer balances:
      // Freedman-Diaconis (2·IQR·n^-1/3), Scott (3.49·σ·n^-1/3), and
      // Sturges (range/(1+log2 n)) side by side with the implied bin
      // counts — the pre-chart sizing decision q103's fixed histogram
      // skips. Quartiles at exact global ranks.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"),
          (expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("x"))
      val st = base.agg(count(lit(1)).as("n"), min(col("x")).as("mn"),
        max(col("x")).as("mx"),
        sqrt(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("sd"))
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("x"), col("ck")), "rk")
        .crossJoin(broadcast(st))
      val iqr = ranked.agg(
        max(when(col("rk") === expr("(n * 3) div 4"), col("x")))
          .as("q3"),
        max(when(col("rk") === expr("n div 4"), col("x"))).as("q1"))
      val g = st.crossJoin(broadcast(iqr))
        .withColumn("nn", col("n").cast("double"))
        .withColumn("rng", col("mx") - col("mn"))
        .withColumn("fd",
          lit(2.0) * (col("q3") - col("q1")) * pow(col("nn"), -1.0 / 3))
        .withColumn("scott",
          lit(3.49) * col("sd") * pow(col("nn"), -1.0 / 3))
        .withColumn("sturges",
          col("rng") / (lit(1.0) + log(col("nn")) / math.log(2.0)))
      g.selectExpr(
          "stack(3, 'freedman_diaconis', round(fd, 4), " +
            "CAST(ceil(rng / fd) AS BIGINT), " +
            "'scott', round(scott, 4), CAST(ceil(rng / scott) AS BIGINT), " +
            "'sturges', round(sturges, 4), " +
            "CAST(ceil(rng / sturges) AS BIGINT)) " +
            "AS (rule, bin_width, n_bins)")
        .orderBy(col("rule"))
    }),

    "q511_hourly_profile" -> ((s, dir) => {
      // hour-of-day load profile: chi² against the uniform clock, peak
      // hour, business-hours (9-17) and night (0-6) shares — the
      // intraday companion to q182's weekday test on the so-far-unused
      // hour dimension. One 24-cell rollup.
      val hr = events(s, dir)
        .groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("c"))
      val tot = hr.agg(sum(col("c")).as("tc"))
      val withE = hr.crossJoin(broadcast(tot))
        .withColumn("e", col("tc") / 24.0)
      val chi = withE.agg(
        sum((col("c") - col("e")) * (col("c") - col("e")) / col("e"))
          .as("chi2"))
      val peak = withE.orderBy(col("c").desc, col("h")).limit(1)
        .select(col("h").cast("long").as("peak_hour"),
          (col("c") / col("tc")).as("peak_share"))
      val shares = withE.agg(first(col("tc")).as("tc2"),
        sum(when(col("h").between(9, 17), col("c")).otherwise(0.0))
          .as("biz"),
        sum(when(col("h").between(0, 6), col("c")).otherwise(0.0))
          .as("night"))
      chi.crossJoin(broadcast(peak)).crossJoin(broadcast(shares))
        .select(round(col("chi2"), 4).as("chi2_uniform"),
          lit(23L).as("df"), col("peak_hour"),
          round(col("peak_share"), 6).as("peak_share"),
          round(col("biz") / col("tc2"), 6).as("business_share"),
          round(col("night") / col("tc2"), 6).as("night_share"))
    }),

    "q512_km_greenwood" -> ((s, dir) => {
      // Greenwood variance + 95% bands on the q177 Kaplan-Meier churn
      // curve — the SE the point estimate needs before anyone compares
      // curves: Var = S²·Σ d/(n(n−d)), both running sums over the same
      // calendar-bounded event-time table.
      val cust = survivalCohort(s, dir)
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d"))
      val tot = byDur.agg(sum(col("c_all")).as("n_total"))
      val risk = graft.ops.PrefixSum.groupedRunningSum(
          byDur.withColumn("__g", lit(1)), "__g", "dur", col("c_all"),
          "cum_all")
        .crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
        .filter(col("d") > 0 && col("n_risk") > col("d"))
      risk
        .withColumn("surv", exp(sum(log(
          (col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))).over(durRunning)))
        .withColumn("gsum", sum(col("d").cast("double") /
          (col("n_risk").cast("double") *
            (col("n_risk") - col("d")).cast("double"))).over(durRunning))
        .withColumn("se", col("surv") * sqrt(col("gsum")))
        .select(col("dur").as("duration_days"), col("n_risk"), col("d"),
          round(col("surv"), 6).as("survival"),
          round(col("se"), 6).as("greenwood_se"),
          round(col("surv") - lit(1.96) * col("se"), 6).as("ci_lo"),
          round(col("surv") + lit(1.96) * col("se"), 6).as("ci_hi"))
        .orderBy(col("duration_days"))
    }),

    "q513_fisher_index" -> ((s, dir) => {
      // price-index gallery 1995→1996 over parts present both years:
      // Laspeyres (base weights), Paasche (current weights), Fisher
      // (their geometric mean) and the time-reversal product Fisher_fwd
      // × Fisher_bwd (exactly 1 for Fisher — the axiomatic check) —
      // q220's single Laspeyres made comparable. Part-year rollups
      // collapse map-side; the index algebra is one aggregate.
      val py = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(when(year(col("o_orderdate")) === 1995,
          col("l_quantity")).otherwise(0.0)).as("q0"),
          sum(when(year(col("o_orderdate")) === 1996,
            col("l_quantity")).otherwise(0.0)).as("q1"),
          (sum(when(year(col("o_orderdate")) === 1995,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).cast("double") / 100.0).as("r0"),
          (sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).cast("double") / 100.0).as("r1"))
        .filter(col("q0") > 0 && col("q1") > 0)
        .withColumn("p0", col("r0") / col("q0"))
        .withColumn("p1", col("r1") / col("q1"))
      val ix = py.agg(count(lit(1)).as("n_parts"),
        (sum(col("p1") * col("q0")) / sum(col("p0") * col("q0")))
          .as("lasp"),
        (sum(col("p1") * col("q1")) / sum(col("p0") * col("q1")))
          .as("paas"),
        (sum(col("p0") * col("q1")) / sum(col("p1") * col("q1")))
          .as("laspB"),
        (sum(col("p0") * col("q0")) / sum(col("p1") * col("q0")))
          .as("paasB"))
      ix.select(col("n_parts"), round(col("lasp"), 6).as("laspeyres"),
        round(col("paas"), 6).as("paasche"),
        round(sqrt(col("lasp") * col("paas")), 6).as("fisher"),
        round(sqrt(col("lasp") * col("paas")) *
          sqrt(col("laspB") * col("paasB")), 6).as("reversal_product"))
    }),

    "q514_pr_auc" -> ((s, dir) => {
      // precision-recall AUC (average precision) of the q138 classifier
      // — the imbalance-robust companion to q169's ROC AUC: AP = Σ
      // ΔR·P over distinct scores descending, with cumulative TP/N from
      // ONE multi-column prefix-sum pass (descending realized as
      // complements of the ascending sums).
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val pts = scored.groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("cpos"),
          count(lit(1)).as("ctot"))
        .withColumn("__g", lit(1))
      val cum = graft.ops.PrefixSum.groupedRunningSums(
        pts, "__g", "p", Seq((col("cpos"), "cp"), (col("ctot"), "ct")))
      val tot = pts.agg(sum(col("cpos")).cast("double").as("npos"),
        sum(col("ctot")).cast("double").as("ntot"))
      val ap = cum.crossJoin(broadcast(tot))
        .withColumn("tp",
          col("npos") - (col("cp") - col("cpos")).cast("double"))
        .withColumn("nAtOrAbove",
          col("ntot") - (col("ct") - col("ctot")).cast("double"))
        .select(((col("cpos").cast("double") / col("npos")) *
          (col("tp") / col("nAtOrAbove"))).as("term"), col("npos"),
          col("ntot"))
      ap.agg(first(col("npos")).as("npos"), first(col("ntot")).as("ntot"),
          sum(col("term")).as("ap"))
        .select(col("npos").cast("long").as("n_pos"),
          (col("ntot") - col("npos")).cast("long").as("n_neg"),
          round(col("ap"), 6).as("pr_auc"),
          round(col("npos") / col("ntot"), 6).as("baseline_precision"))
    }),

    "q515_vif" -> ((s, dir) => {
      // variance-inflation factors for three doc features (length,
      // space ratio, vowel ratio — the corpus has no digits, so q138's
      // digit feature is constant and inadmissible here): each feature
      // regressed on the other two via the closed 2-predictor R² from
      // pairwise correlations — the collinearity diagnostic behind
      // every regression in the gallery. One moment aggregate, then
      // bounded algebra.
      val len = length(col("text")).cast("double")
      val feat = t(s, dir, "documents").select(
        (len / 100.0).as("f_len"),
        ((len - length(regexp_replace(col("text"), " ", ""))
          .cast("double")) / len).as("f_space"),
        ((len - length(regexp_replace(col("text"), "[aeiou]", ""))
          .cast("double")) / len).as("f_vowel"))
      def corr2(a: Column, b: Column) =
        (avg(a * b) - avg(a) * avg(b)) /
          sqrt((avg(a * a) - avg(a) * avg(a)) *
            (avg(b * b) - avg(b) * avg(b)))
      val m = feat.agg(
        corr2(col("f_len"), col("f_space")).as("r12"),
        corr2(col("f_len"), col("f_vowel")).as("r13"),
        corr2(col("f_space"), col("f_vowel")).as("r23"))
      def r2of(rab: Column, rac: Column, rbc: Column) =
        (rab * rab + rac * rac - lit(2.0) * rab * rac * rbc) /
          (lit(1.0) - rbc * rbc)
      val withR = m
        .withColumn("r2_1", r2of(col("r12"), col("r13"), col("r23")))
        .withColumn("r2_2", r2of(col("r12"), col("r23"), col("r13")))
        .withColumn("r2_3", r2of(col("r13"), col("r23"), col("r12")))
      withR.selectExpr(
          "stack(3, 'f_len', round(r2_1, 6), " +
            "round(1.0D / (1.0D - r2_1), 4), " +
            "'f_space', round(r2_2, 6), round(1.0D / (1.0D - r2_2), 4), " +
            "'f_vowel', round(r2_3, 6), round(1.0D / (1.0D - r2_3), 4)) " +
            "AS (feature, r2_on_others, vif)")
        .orderBy(col("feature"))
    }),

    "q516_interaction_reri" -> ((s, dir) => {
      // additive-interaction RERI: do high balance (A) and BUILDING
      // segment (B) together raise the ≥3-order rate beyond the sum of
      // their separate effects? RERI = RR11 − RR10 − RR01 + 1, with the
      // multiplicative interaction ratio alongside — the epi interaction
      // panel next to q439's stratified OR. One 2×2×2 aggregate.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select((col("c_acctbal") > 5000.0).as("a"),
          (col("c_mktsegment") === "BUILDING").as("b"),
          (coalesce(col("cnt"), lit(0L)) >= 3).as("o"))
      val cells = base.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("o"), 1L).otherwise(0L)).cast("double").as("k"))
        .withColumn("risk", col("k") / col("n"))
      val w = cells.agg(
        max(when(!col("a") && !col("b"), col("risk"))).as("r00"),
        max(when(col("a") && !col("b"), col("risk"))).as("r10"),
        max(when(!col("a") && col("b"), col("risk"))).as("r01"),
        max(when(col("a") && col("b"), col("risk"))).as("r11"))
      w.select(round(col("r00"), 6).as("risk_base"),
        round(col("r11") / col("r00"), 4).as("rr_both"),
        round(col("r10") / col("r00"), 4).as("rr_a_only"),
        round(col("r01") / col("r00"), 4).as("rr_b_only"),
        round(col("r11") / col("r00") - col("r10") / col("r00") -
          col("r01") / col("r00") + 1.0, 6).as("reri"),
        round((col("r11") / col("r00")) /
          ((col("r10") / col("r00")) * (col("r01") / col("r00"))), 6)
          .as("multiplicative_ratio"))
    }),

    "q517_parallel_trends" -> ((s, dir) => {
      // parallel-trends pretest for DiD designs: 1995 daily-revenue OLS
      // slopes for BUILDING vs MACHINERY with slope SEs, difference z —
      // the assumption CHECK q230's difference-in-differences rests on.
      // Two segment-day rollups, closed-form OLS + SE per side.
      def segFit(name: String) = {
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === name &&
            year(col("o_orderdate")) === 1995)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("double") / 100.0).as("y"))
        val d0 = daily.agg(min(col("d")).as("d0"))
        val td = daily.crossJoin(broadcast(d0))
          .select(datediff(col("d"), col("d0")).cast("double").as("x"),
            col("y"))
        val m = td.agg(count(lit(1)).cast("double").as("n"),
          avg(col("x")).as("mx"), avg(col("y")).as("my"),
          (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y")))
            .as("cxy"),
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
            .as("cxx"),
          (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
            .as("cyy"))
        m.select(col("n"), (col("cxy") / col("cxx")).as("b"),
          sqrt((col("cyy") - col("cxy") * col("cxy") / col("cxx")) *
            col("n") / (col("n") - 2) / (col("n") * col("cxx")))
            .as("se"))
      }
      val a = segFit("BUILDING")
        .select(col("n").as("n1"), col("b").as("b1"), col("se").as("se1"))
      val b = segFit("MACHINERY")
        .select(col("n").as("n2"), col("b").as("b2"), col("se").as("se2"))
      val z = (col("b1") - col("b2")) /
        sqrt(col("se1") * col("se1") + col("se2") * col("se2"))
      a.crossJoin(broadcast(b))
        .select(col("n1").cast("long").as("n_days_building"),
          col("n2").cast("long").as("n_days_machinery"),
          round(col("b1"), 4).as("slope_building"),
          round(col("b2"), 4).as("slope_machinery"),
          round(z, 6).as("z"),
          (abs(z) < 1.96).as("parallel_ok"))
    }),

    "q518_meta_analysis" -> ((s, dir) => {
      // DerSimonian-Laird meta-analysis pooling the per-nation high-vs-
      // low-balance order-count effects: fixed-effect pool, Q
      // heterogeneity, tau², I², and the random-effects pool — each
      // nation treated as an independent study (the multi-site readout
      // q492's single ATE flattens). Stratum moments collapse map-side;
      // two bounded passes (tau² re-weights the second).
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 5000.0).as("tr"),
          coalesce(col("cnt"), lit(0L)).cast("double").as("y"))
      val strat = base.groupBy(col("nk"))
        .agg(sum(when(col("tr"), 1L).otherwise(0L)).cast("double")
          .as("n1"),
          sum(when(!col("tr"), 1L).otherwise(0L)).cast("double")
            .as("n2"),
          avg(when(col("tr"), col("y"))).as("m1"),
          avg(when(!col("tr"), col("y"))).as("m2"),
          sum(when(col("tr"), col("y") * col("y")).otherwise(0.0))
            .as("ss1"),
          sum(when(!col("tr"), col("y") * col("y")).otherwise(0.0))
            .as("ss2"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("v",
          (col("ss1") - col("n1") * col("m1") * col("m1")) /
            (col("n1") - 1) / col("n1") +
            (col("ss2") - col("n2") * col("m2") * col("m2")) /
              (col("n2") - 1) / col("n2"))
        .filter(col("v") > 0)
        .withColumn("d", col("m1") - col("m2"))
        .withColumn("w", lit(1.0) / col("v"))
        .materialize
      val fe = strat.agg(count(lit(1)).cast("double").as("k"),
        sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
        (sum(col("w") * col("d")) / sum(col("w"))).as("feEst"))
      val q = strat.crossJoin(broadcast(fe))
        .agg(first(col("k")).as("k"), first(col("sw")).as("sw"),
          first(col("sw2")).as("sw2"), first(col("feEst")).as("feEst"),
          sum(col("w") * (col("d") - col("feEst")) *
            (col("d") - col("feEst"))).as("qstat"))
        .withColumn("tau2", greatest(lit(0.0),
          (col("qstat") - (col("k") - 1)) /
            (col("sw") - col("sw2") / col("sw"))))
      val re = strat.crossJoin(broadcast(q))
        .agg(first(col("k")).as("k"), first(col("feEst")).as("feEst"),
          first(col("sw")).as("sw"), first(col("qstat")).as("qstat"),
          first(col("tau2")).as("tau2"),
          (sum(col("d") / (col("v") + col("tau2"))) /
            sum(lit(1.0) / (col("v") + col("tau2")))).as("reEst"))
      val out = re.select(col("k").cast("long").as("n_studies"),
        round(col("feEst"), 4).as("fixed_effect"),
        round(lit(1.0) / sqrt(col("sw")), 4).as("fe_se"),
        round(col("qstat"), 4).as("q_heterogeneity"),
        round(col("tau2"), 6).as("tau2"),
        round(greatest(lit(0.0),
          (col("qstat") - (col("k") - 1)) / col("qstat")), 6).as("i2"),
        round(col("reEst"), 4).as("random_effect"))
      out
    }),

    "q519_mmd" -> ((s, dir) => {
      // RBF-kernel maximum mean discrepancy between 1995 and 1996 order
      // values on FIXED-SIZE deterministic subsamples (top-400 by
      // keyHash per year — scale-invariant, so the kernel grid stays
      // 400×400 at any sf): the modern kernel two-sample test next to
      // KS/CvM/AD. Three bounded kernel-sum joins, pooled-σ bandwidth.
      val base = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderkey").as("ok"),
          (expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("v"))
        .withColumn("h", graft.ops.Sampling.keyHash(col("ok")))
      val wH = Window.partitionBy(col("yr")).orderBy(col("h"), col("ok"))
      val samp = base.withColumn("rk", row_number().over(wH))
        .filter(col("rk") <= 400)
        .materialize
      val sd = samp.agg(sqrt(avg(col("v") * col("v")) -
        avg(col("v")) * avg(col("v"))).as("sigma"))
      val xs = samp.filter(col("yr") === 1995)
        .select(col("ok").as("ia"), col("v").as("va"))
      val ys = samp.filter(col("yr") === 1996)
        .select(col("ok").as("ib"), col("v").as("vb"))
      def ksum(l: DataFrame, r: DataFrame, excludeSelf: Boolean) = {
        val j = l.crossJoin(r).crossJoin(broadcast(sd))
        val base0 = if (excludeSelf) j.filter(col("ia") =!= col("ib"))
          else j
        base0.agg(count(lit(1)).cast("double").as("np"),
          sum(exp(-(col("va") - col("vb")) * (col("va") - col("vb")) /
            (lit(2.0) * col("sigma") * col("sigma")))).as("ks"))
      }
      val kxx = ksum(xs, xs.select(col("ia").as("ib"),
        col("va").as("vb")), excludeSelf = true)
        .select(col("np").as("nxx"), col("ks").as("kxx"))
      val kyy = ksum(ys.select(col("ib").as("ia"), col("vb").as("va")),
        ys, excludeSelf = true)
        .select(col("np").as("nyy"), col("ks").as("kyy"))
      val kxy = ksum(xs, ys, excludeSelf = false)
        .select(col("np").as("nxy"), col("ks").as("kxy"))
      kxx.crossJoin(broadcast(kyy)).crossJoin(broadcast(kxy))
        .crossJoin(broadcast(sd))
        .select(round(col("sigma"), 4).as("bandwidth_sigma"),
          round(col("kxx") / col("nxx") + col("kyy") / col("nyy") -
            lit(2.0) * col("kxy") / col("nxy"), 8).as("mmd2_unbiased"))
    }),

    "q520_partial_dependence" -> ((s, dir) => {
      // partial-dependence curve of the q138 classifier on document
      // length: average model response with f_len CLAMPED to each grid
      // value while the other features keep their observed joint
      // distribution — the model-interpretability read behind q144's
      // calibration. Fixed 10× grid explode, one aggregate per point.
      val (feat, _, wts) = classifierModel(s, dir)
      val grid = s.range(1, 11).select(col("id").cast("double").as("g"))
      val pd = feat.crossJoin(broadcast(grid))
        .select(col("g"), (lit(1.0) / (lit(1.0) + exp(-(
          lit(wts(0)) + lit(wts(1)) * col("g") +
            lit(wts(2)) * col("f_space") + lit(wts(3)) * col("f_digit")))))
          .as("p"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"), avg(col("p")).as("pd"))
      pd.select((col("g") * 100).cast("long").as("doc_length_chars"),
          col("n_docs"), round(col("pd"), 6).as("partial_dependence"))
        .orderBy(col("doc_length_chars"))
    }),

    "q521_smr" -> ((s, dir) => {
      // standardized engagement ratio (indirect standardization): each
      // segment's observed ≥5-order customers vs the count EXPECTED from
      // the nation-level reference rates given its nation mix, with the
      // Byar approximate CI — the case-mix-adjusted comparison raw rates
      // get wrong. Cell rollups collapse map-side; the standardization
      // runs on the bounded segment×nation grid.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment").as("sg"), col("c_nationkey")
          .as("nk"),
          (coalesce(col("cnt"), lit(0L)) >= 5).as("ev"))
      val ref = base.groupBy(col("nk"))
        .agg((sum(when(col("ev"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("rate"))
      val cells = base.groupBy(col("sg"), col("nk"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("ev"), 1L).otherwise(0L)).cast("double").as("o"))
      val smr = cells.join(broadcast(ref), Seq("nk"))
        .groupBy(col("sg"))
        .agg(sum(col("o")).as("obs"),
          sum(col("n") * col("rate")).as("expd"))
      val o = col("obs")
      val lo = o * pow(lit(1.0) - lit(1.0) / (o * 9) -
        lit(1.96) / (sqrt(o) * 3), 3.0) / col("expd")
      val hi = (o + 1) * pow(lit(1.0) - lit(1.0) / ((o + 1) * 9) +
        lit(1.96) / (sqrt(o + 1) * 3), 3.0) / col("expd")
      smr.select(col("sg").as("segment"), col("obs").cast("long")
          .as("observed"),
          round(col("expd"), 2).as("expected"),
          round(o / col("expd"), 4).as("smr"),
          round(lo, 4).as("ci_lo"), round(hi, 4).as("ci_hi"))
        .orderBy(col("segment"))
    }),

    "q522_prr_signals" -> ((s, dir) => {
      // proportional reporting ratio (pharmacovigilance signal
      // detection) for brand × return "reactions": PRR, ROR, and the
      // 2×2 chi², flagged by the standard PRR≥2 ∧ a≥3 ∧ chi²≥4 rule —
      // disproportionality screening over the brand portfolio. One
      // brand rollup + bounded algebra; top 10 by PRR.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("double").as("a"),
          sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L))
            .cast("double").as("b"))
      val tot = li.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      val w = li.crossJoin(broadcast(tot))
        .withColumn("c", col("ta") - col("a"))
        .withColumn("d", col("tb") - col("b"))
        .withColumn("prr", (col("a") / (col("a") + col("b"))) /
          (col("c") / (col("c") + col("d"))))
        .withColumn("ror",
          (col("a") / col("b")) / (col("c") / col("d")))
        .withColumn("nn", col("a") + col("b") + col("c") + col("d"))
        .withColumn("chi2", col("nn") *
          (col("a") * col("d") - col("b") * col("c")) *
          (col("a") * col("d") - col("b") * col("c")) /
          ((col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")) * (col("b") + col("d"))))
      w.select(col("p_brand"), col("a").cast("long").as("n_returns"),
          round(col("prr"), 4).as("prr"), round(col("ror"), 4).as("ror"),
          round(col("chi2"), 4).as("chi2"),
          (col("prr") >= 2.0 && col("a") >= 3 && col("chi2") >= 4.0)
            .as("signal"))
        .orderBy(round(col("prr"), 4).desc, col("p_brand"))
        .limit(10)
    }),

    "q523_chao1" -> ((s, dir) => {
      // Chao1 vocabulary-richness estimate from singleton/doubleton
      // counts (bias-corrected form, defined at f2=0) — how many token
      // types the corpus HASN'T shown yet; the ecology estimator
      // completing q274's Heaps-law growth curve. Token counts collapse
      // map-side; the estimator is one tiny aggregate.
      val cnt = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      cnt.agg(count(lit(1)).cast("double").as("sobs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double")
            .as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).cast("double")
            .as("f2"))
        .select(col("sobs").cast("long").as("s_observed"),
          col("f1").cast("long").as("singletons"),
          col("f2").cast("long").as("doubletons"),
          round(col("sobs") + col("f1") * (col("f1") - 1) /
            (lit(2.0) * (col("f2") + 1)), 2).as("chao1"),
          round(col("sobs") / (col("sobs") + col("f1") *
            (col("f1") - 1) / (lit(2.0) * (col("f2") + 1))), 6)
            .as("coverage_ratio"))
    }),

    "q524_good_turing" -> ((s, dir) => {
      // Good-Turing adjusted counts r* = (r+1)·N_{r+1}/N_r for r = 1..5
      // plus the unseen mass N₁/N — the language-model smoothing table
      // (the LLM-pipeline estimate of how much probability the corpus
      // owes to tokens it never saw). Count-of-counts collapse map-side.
      val cnt = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val coc = cnt.groupBy(col("c").as("r"))
        .agg(count(lit(1)).as("nr"))
      val tot = cnt.agg(sum(col("c")).cast("double").as("nTokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double")
          .as("n1"))
      val grid = s.range(1, 6).select(col("id").as("r"))
      val rows = grid
        .join(coc, Seq("r"), "left")
        .join(coc.select((col("r") - 1).as("r"), col("nr").as("nr1")),
          Seq("r"), "left")
        .crossJoin(broadcast(tot))
      rows.select(col("r"), coalesce(col("nr"), lit(0L)).as("n_r"),
          coalesce(col("nr1"), lit(0L)).as("n_r_plus1"),
          when(coalesce(col("nr"), lit(0L)) > 0,
            round((col("r") + 1).cast("double") *
              coalesce(col("nr1"), lit(0L)) / col("nr"), 4))
            .as("adjusted_count"),
          round(col("n1") / col("nTokens"), 6).as("p_unseen"))
        .orderBy(col("r"))
    }),

    "q525_katz" -> ((s, dir) => {
      // Katz centrality of the five event types under the transition
      // kernel (x = 1 + α·Pᵀx, α = 0.5, 15 sweeps on the ONE-row
      // 5-state frame, one Recurrence) — attenuated-walk importance
      // next to q134's PageRank and q488's first-passage times. Only
      // the transition rollup is data-sized.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tr = eventTransitions(s, dir)
      val rowTot = tr.groupBy(col("src")).agg(sum(col("c")).as("rt"))
      val p = tr.join(rowTot, Seq("src"))
        .select(col("src"), col("dst"), (col("c") / col("rt")).as("p"))
      val pAggs = for { i <- types; j <- types } yield
        coalesce(max(when(col("src") === i && col("dst") === j,
          col("p"))), lit(0.0)).as(s"p_${i}_$j")
      val x = Recurrence.iterate(types.map(i => s"x_$i" -> lit(1.0)), 15) {
        st => types.map { i =>
          lit(1.0) + lit(0.5) * types.map(j =>
            col(s"p_${j}_$i") * st(s"x_$j")).reduce(_ + _)
        }
      }
      p.agg(pAggs.head, pAggs.tail: _*)
        .select(x.as("x"))
        .select(types.map(i => col(s"x.x_$i").as(s"x_$i")): _*)
        .selectExpr("stack(5, " + types.map(i =>
          s"'$i', round(x_$i, 4), round(x_$i / (${types
            .map(t0 => s"x_$t0").mkString(" + ")}), 6)")
          .mkString(", ") + ") AS (event_type, katz, share)")
        .orderBy(col("event_type"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q451_pvm_variance" ->
      """WITH li AS (SELECT p.p_brand,
        |    sum(CASE WHEN year(o.o_orderdate) = 1995 THEN l.l_quantity
        |      ELSE 0 END) AS q0,
        |    sum(CASE WHEN year(o.o_orderdate) = 1996 THEN l.l_quantity
        |      ELSE 0 END) AS q1,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1995
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 100.0 AS r0,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1996
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 100.0 AS r1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |bth AS (SELECT q0, q1, r0, r1, r0 / q0 AS p0, r1 / q1 AS p1
        |  FROM li WHERE q0 > 0 AND q1 > 0),
        |tots AS (SELECT sum(q0) AS tq0, sum(q1) AS tq1, sum(r0) AS tr0,
        |    sum(r1) AS tr1, sum(q1 * (p1 - p0)) AS price_eff,
        |    sum((q1 - q0) * p0) AS vol_mix
        |  FROM bth),
        |excl AS (SELECT COALESCE(sum(r1 - r0), 0.0) AS nd_eff FROM li
        |  WHERE NOT (q0 > 0 AND q1 > 0))
        |SELECT round(tr1 - tr0 + nd_eff, 2) AS total_change,
        |  round(price_eff, 2) AS price_effect,
        |  round((tq1 - tq0) * (tr0 / tq0), 2) AS volume_effect,
        |  round(vol_mix - (tq1 - tq0) * (tr0 / tq0), 2) AS mix_effect,
        |  round(nd_eff, 2) AS new_discontinued
        |FROM tots CROSS JOIN excl""".stripMargin,

    "q452_kingman_vut" ->
      """WITH p AS (SELECT epoch_us(ts) AS t, event_id,
        |    CAST(value AS DOUBLE) AS svc
        |  FROM events WHERE event_type = 'purchase'),
        |gaps AS (SELECT CAST(t - lag(t) OVER (ORDER BY t, event_id)
        |      AS DOUBLE) / 1e6 AS g
        |  FROM p),
        |gg AS (SELECT g FROM gaps WHERE g IS NOT NULL),
        |ga AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(g) AS mg,
        |    avg(g * g) - avg(g) * avg(g) AS vg FROM gg),
        |sa AS (SELECT avg(svc) AS ms,
        |    avg(svc * svc) - avg(svc) * avg(svc) AS vs FROM p)
        |SELECT CAST(n AS BIGINT) AS n_gaps,
        |  round(mg, 4) AS mean_interarrival_s,
        |  round(vg / (mg * mg), 6) AS ca2,
        |  round(vs / (ms * ms), 6) AS cs2,
        |  round(0.8 / 0.2 * ((vg / (mg * mg) + vs / (ms * ms)) / 2.0)
        |    * ms, 4) AS wq_est_s
        |FROM ga CROSS JOIN sa""".stripMargin,

    "q453_geometric_median" -> {
      val step = (i: Int) =>
        s"""gm${i}_ AS (SELECT sum(x * w) / sum(w) AS cx,
           |    sum(y * w) / sum(w) AS cy FROM (
           |  SELECT x, y, 1.0 / greatest(
           |      sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)), 1e-9)
           |    AS w
           |  FROM pts CROSS JOIN gm${i - 1}_))""".stripMargin
      s"""WITH pts AS (SELECT
         |    CAST((s_suppkey * 48271 + 99991) % 1000000 AS DOUBLE) AS x,
         |    CAST((s_suppkey * 16807 + 12347) % 1000000 AS DOUBLE) AS y
         |  FROM supplier),
         |gm0_ AS (SELECT avg(x) AS cx, avg(y) AS cy FROM pts),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT CAST(count(*) AS BIGINT) AS n_points,
         |  round(min(cx), 4) AS gm_x, round(min(cy), 4) AS gm_y,
         |  round(avg(sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy))), 4)
         |    AS avg_dist
         |FROM pts CROSS JOIN gm5_""".stripMargin
    },

    "q454_kde" ->
      """WITH xs AS (SELECT CAST(c_acctbal AS DOUBLE) AS x,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS xc
        |  FROM customer),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, min(xc) AS mnc,
        |    max(xc) AS mxc, sqrt(avg(x * x) - avg(x) * avg(x)) AS sd
        |  FROM xs),
        |pts AS (SELECT CAST(k AS BIGINT) AS k, n,
        |    CAST(mnc + (k * (mxc - mnc)) // 20 AS DOUBLE) / 100.0 AS g,
        |    1.06 * sd * pow(n, -0.2) AS h
        |  FROM range(21) t(k) CROSS JOIN st),
        |dens AS (SELECT k, g,
        |    avg(exp(-0.5 * ((g - x) / h) * ((g - x) / h)) /
        |      (h * sqrt(2 * pi()))) AS density
        |  FROM xs CROSS JOIN pts GROUP BY 1, 2)
        |SELECT k, round(g, 2) AS grid_x,
        |  round(density * 1e6, 4) AS density_ppm
        |FROM dens ORDER BY k""".stripMargin,

    "q455_qq_points" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    avg(CAST(v AS DOUBLE) / 100.0) AS mu,
        |    sqrt(avg(CAST(v AS DOUBLE) / 100.0 *
        |      (CAST(v AS DOUBLE) / 100.0)) -
        |      avg(CAST(v AS DOUBLE) / 100.0) *
        |      avg(CAST(v AS DOUBLE) / 100.0)) AS sd
        |  FROM base),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT) AS rk
        |  FROM base),
        |probs AS (SELECT CAST(i AS DOUBLE) / 20.0 AS p
        |  FROM range(1, 20) t(i)),
        |emp AS (SELECT p, CAST(v AS DOUBLE) / 100.0 AS empirical, mu, sd
        |  FROM r CROSS JOIN st CROSS JOIN probs
        |  WHERE rk = CAST(ceil(p * n) AS BIGINT)),
        |pq AS (SELECT p, empirical, mu, sd, p - 0.5 AS q,
        |    (p - 0.5) * (p - 0.5) AS rr
        |  FROM emp)
        |SELECT round(p, 2) AS p, round(empirical, 2) AS empirical,
        |  round(mu + sd * (((((((-39.69683028665376) * rr
        |    + 220.9460984245205) * rr + (-275.9285104469687)) * rr
        |    + 138.3577518672690) * rr + (-30.66479806614716)) * rr
        |    + 2.506628277459239) * q /
        |    ((((((-54.47609879822406) * rr + 161.5858368580409) * rr
        |    + (-155.6989798598866)) * rr + 66.80131188771972) * rr
        |    + (-13.28068155288572)) * rr + 1.0)), 4) AS theoretical
        |FROM pq ORDER BY p""".stripMargin,

    "q456_shift_share" ->
      """WITH cells AS (SELECT c.c_nationkey AS nk,
        |    o.o_orderpriority AS pri,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1995 THEN 1 ELSE 0
        |      END) AS DOUBLE) AS e0,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1996 THEN 1 ELSE 0
        |      END) AS DOUBLE) AS e1
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(e1) / sum(e0) - 1.0 AS gt FROM cells),
        |ind AS (SELECT pri, sum(e1) / sum(e0) - 1.0 AS gi FROM cells
        |  GROUP BY 1),
        |dec AS (SELECT nk, sum(e1 - e0) AS change,
        |    sum(CASE WHEN e0 > 0 THEN e0 * gt ELSE 0.0 END) AS ns,
        |    sum(CASE WHEN e0 > 0 THEN e0 * (gi - gt) ELSE 0.0 END)
        |      AS im,
        |    sum(CASE WHEN e0 > 0 THEN e0 * (e1 / e0 - 1.0 - gi)
        |      ELSE 0.0 END) AS rs,
        |    sum(CASE WHEN e0 = 0 THEN e1 ELSE 0.0 END) AS born
        |  FROM cells JOIN ind USING (pri) CROSS JOIN tot GROUP BY 1)
        |SELECT CAST(nk AS BIGINT) AS nation,
        |  CAST(change AS BIGINT) AS change,
        |  round(ns, 4) AS national_share, round(im, 4) AS industry_mix,
        |  round(rs, 4) AS regional_shift,
        |  CAST(born AS BIGINT) AS new_cells
        |FROM dec ORDER BY nation""".stripMargin,

    "q457_icc" ->
      """WITH y AS (SELECT c_nationkey AS g,
        |    CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS DOUBLE)
        |      / 100.0 AS y
        |  FROM customer),
        |grp AS (SELECT g, CAST(count(*) AS DOUBLE) AS ng, sum(y) AS sy,
        |    sum(y * y) AS syy
        |  FROM y GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS DOUBLE) AS a, sum(ng) AS nn,
        |    sum(sy) AS ty, sum(syy) AS tyy,
        |    sum(sy * sy / ng) AS ssbraw, sum(ng * ng) AS sn2
        |  FROM grp),
        |c AS (SELECT *,
        |    (ssbraw - ty * ty / nn) / (a - 1) AS msb,
        |    (tyy - ssbraw) / (nn - a) AS msw,
        |    (nn - sn2 / nn) / (a - 1) AS k0
        |  FROM ag)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(a AS BIGINT) AS n_groups,
        |  round(msb, 4) AS ms_between, round(msw, 4) AS ms_within,
        |  round(k0, 4) AS k0,
        |  round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1
        |FROM c""".stripMargin,

    "q458_topsis" ->
      """WITH br AS (SELECT p.p_brand,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE) / 100.0 AS rev,
        |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS ret,
        |    avg(CAST(l.l_discount AS DOUBLE)) AS disc
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |norms AS (SELECT sqrt(sum(rev * rev)) AS nr,
        |    sqrt(sum(ret * ret)) AS nt, sqrt(sum(disc * disc)) AS nd
        |  FROM br),
        |v AS (SELECT p_brand, rev / nr / 3.0 AS v1, ret / nt / 3.0 AS v2,
        |    disc / nd / 3.0 AS v3
        |  FROM br CROSS JOIN norms),
        |ideal AS (SELECT max(v1) AS p1, min(v2) AS p2, min(v3) AS p3,
        |    min(v1) AS m1, max(v2) AS m2, max(v3) AS m3 FROM v),
        |sc AS (SELECT p_brand,
        |    sqrt((v1 - p1) * (v1 - p1) + (v2 - p2) * (v2 - p2) +
        |      (v3 - p3) * (v3 - p3)) AS dp,
        |    sqrt((v1 - m1) * (v1 - m1) + (v2 - m2) * (v2 - m2) +
        |      (v3 - m3) * (v3 - m3)) AS dm
        |  FROM v CROSS JOIN ideal)
        |SELECT p_brand, round(dm / (dp + dm), 6) AS closeness
        |FROM sc ORDER BY round(dm / (dp + dm), 6) DESC, p_brand
        |LIMIT 10""".stripMargin,

    "q459_rolling_origin" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |r AS (SELECT d, y,
        |    avg(y) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
        |    row_number() OVER (ORDER BY d) AS t
        |  FROM daily)
        |SELECT strftime(d, '%Y-%m-%d') AS d, CAST(y AS BIGINT) AS actual,
        |  round(f, 4) AS forecast, round(abs(y - f), 4) AS abs_err
        |FROM r WHERE t > 20 ORDER BY d""".stripMargin,

    "q460_rank_aggregation" ->
      """WITH br AS (SELECT p.p_brand,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS ords
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM br),
        |rk AS (SELECT p_brand,
        |    CAST(row_number() OVER (ORDER BY rev DESC, p_brand)
        |      AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY qty DESC, p_brand)
        |      AS BIGINT) AS r2,
        |    CAST(row_number() OVER (ORDER BY ords DESC, p_brand)
        |      AS BIGINT) AS r3
        |  FROM br)
        |SELECT p_brand, r1 AS rank_revenue, r2 AS rank_quantity,
        |  r3 AS rank_orders, 3 * nb - r1 - r2 - r3 AS borda
        |FROM rk CROSS JOIN nb
        |ORDER BY borda DESC, p_brand LIMIT 10""".stripMargin,

    "q461_anderson_darling" ->
      """WITH base AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |grid AS (SELECT v,
        |    CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM base GROUP BY 1),
        |g2 AS (SELECT *, c1 + c2 AS l FROM grid),
        |cum AS (SELECT *, CAST(sum(l) OVER (ORDER BY v) AS BIGINT)
        |      AS cb,
        |    CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS cm1
        |  FROM g2),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1,
        |    CAST(sum(c2) AS DOUBLE) AS n2,
        |    CAST(count(*) AS BIGINT) AS nvals
        |  FROM g2),
        |terms AS (SELECT l, c1, n1, n2, n1 + n2 AS nn,
        |    CAST(cb AS DOUBLE) - CAST(l AS DOUBLE) / 2 AS ba,
        |    CAST(cm1 AS DOUBLE) - CAST(c1 AS DOUBLE) / 2 AS ma1,
        |    CAST(cb - cm1 AS DOUBLE) - CAST(l - c1 AS DOUBLE) / 2
        |      AS ma2
        |  FROM cum CROSS JOIN tot),
        |t2 AS (SELECT *,
        |    ba * (nn - ba) - nn * CAST(l AS DOUBLE) / 4 AS dd
        |  FROM terms),
        |t3 AS (SELECT n1, n2, nn,
        |    (CAST(l AS DOUBLE) / nn) * (
        |      (nn * ma1 - n1 * ba) * (nn * ma1 - n1 * ba) / n1 +
        |      (nn * ma2 - n2 * ba) * (nn * ma2 - n2 * ba) / n2) / dd
        |      AS term
        |  FROM t2 WHERE dd > 0),
        |ag AS (SELECT min(n1) AS n1, min(n2) AS n2, min(nn) AS nn,
        |    sum(term) AS ts FROM t3)
        |SELECT CAST(n1 AS BIGINT) AS n_1995,
        |  CAST(n2 AS BIGINT) AS n_1996,
        |  (SELECT nvals FROM tot) AS n_distinct,
        |  round((nn - 1) / nn * ts, 6) AS a2akn
        |FROM ag""".stripMargin,

    "q462_lad_regression" -> {
      val step = (i: Int) =>
        s"""w${i}_ AS (SELECT x, y,
           |    1.0 / greatest(abs(y - a - b * x), 1e-6) AS w, ols_b
           |  FROM td CROSS JOIN f${i - 1}_),
           |s${i}_ AS (SELECT min(ols_b) AS ols_b, sum(w) AS sw,
           |    sum(w * x) AS swx, sum(w * y) AS swy,
           |    sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
           |  FROM w${i}_),
           |f${i}_ AS (SELECT
           |    (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b,
           |    (swy - (sw * swxy - swx * swy) /
           |      (sw * swxx - swx * swx) * swx) / sw AS a, ols_b
           |  FROM s${i}_)""".stripMargin
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
         |    CAST(count(*) AS DOUBLE) AS y
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |d0 AS (SELECT min(d) AS d0 FROM daily),
         |td AS (SELECT CAST(date_diff('day', d0, d) AS DOUBLE) AS x, y
         |  FROM daily CROSS JOIN d0),
         |f0_ AS (SELECT
         |    (avg(x*y) - avg(x)*avg(y)) / (avg(x*x) - avg(x)*avg(x))
         |      AS b,
         |    avg(y) - (avg(x*y) - avg(x)*avg(y)) /
         |      (avg(x*x) - avg(x)*avg(x)) * avg(x) AS a,
         |    (avg(x*y) - avg(x)*avg(y)) / (avg(x*x) - avg(x)*avg(x))
         |      AS ols_b
         |  FROM td),
         |${(1 to 3).map(step).mkString(",\n")}
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM td) AS n_days,
         |  round(ols_b, 6) AS ols_slope, round(b, 6) AS lad_slope,
         |  round(a, 4) AS lad_intercept
         |FROM f3_""".stripMargin
    },

    "q463_median_polish" ->
      """WITH grid0 AS (SELECT c_nationkey AS nk, c_mktsegment AS sg,
        |    median(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
        |      AS DOUBLE)) AS r
        |  FROM customer GROUP BY 1, 2),
        |rm1 AS (SELECT nk, median(r) AS rm FROM grid0 GROUP BY 1),
        |grid1 AS (SELECT g.nk, g.sg, g.r - rm.rm AS r
        |  FROM grid0 g JOIN rm1 rm USING (nk)),
        |re1 AS (SELECT nk, rm AS re FROM rm1),
        |mre1 AS (SELECT median(re) AS m FROM re1),
        |gm1 AS (SELECT 0.0 + (SELECT m FROM mre1) AS gm),
        |re1b AS (SELECT nk, re - (SELECT m FROM mre1) AS re FROM re1),
        |cm1 AS (SELECT sg, median(r) AS cm FROM grid1 GROUP BY 1),
        |grid2 AS (SELECT g.nk, g.sg, g.r - cm.cm AS r
        |  FROM grid1 g JOIN cm1 cm USING (sg)),
        |ce1 AS (SELECT sg, cm AS ce FROM cm1),
        |mce1 AS (SELECT median(ce) AS m FROM ce1),
        |gm2 AS (SELECT gm + (SELECT m FROM mce1) AS gm FROM gm1),
        |ce1b AS (SELECT sg, ce - (SELECT m FROM mce1) AS ce FROM ce1),
        |rm2 AS (SELECT nk, median(r) AS rm FROM grid2 GROUP BY 1),
        |grid3 AS (SELECT g.nk, g.sg, g.r - rm.rm AS r
        |  FROM grid2 g JOIN rm2 rm USING (nk)),
        |re2 AS (SELECT r.nk, r.re + rm.rm AS re
        |  FROM re1b r JOIN rm2 rm USING (nk)),
        |mre2 AS (SELECT median(re) AS m FROM re2),
        |gm3 AS (SELECT gm + (SELECT m FROM mre2) AS gm FROM gm2),
        |cm2 AS (SELECT sg, median(r) AS cm FROM grid3 GROUP BY 1),
        |grid4 AS (SELECT g.nk, g.sg, g.r - cm.cm AS r
        |  FROM grid3 g JOIN cm2 cm USING (sg)),
        |ce2 AS (SELECT c.sg, c.ce + cm.cm AS ce
        |  FROM ce1b c JOIN cm2 cm USING (sg)),
        |mce2 AS (SELECT median(ce) AS m FROM ce2),
        |gm4 AS (SELECT gm + (SELECT m FROM mce2) AS gm FROM gm3),
        |ce2b AS (SELECT sg, ce - (SELECT m FROM mce2) AS ce FROM ce2),
        |mad AS (SELECT median(abs(r)) AS mad FROM grid4)
        |SELECT sg AS segment, round(ce / 100.0, 4) AS col_effect,
        |  (SELECT round(gm / 100.0, 4) FROM gm4) AS grand,
        |  (SELECT round(mad / 100.0, 4) FROM mad) AS resid_mad
        |FROM ce2b ORDER BY segment""".stripMargin,

    "q464_pert_estimate" ->
      """WITH lg AS (SELECT p.p_brand,
        |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
        |      AS BIGINT) AS lag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |cnt AS (SELECT p_brand, lag, count(*) AS c FROM lg
        |  GROUP BY 1, 2),
        |md AS (SELECT p_brand, lag AS m FROM (
        |    SELECT *, row_number() OVER (PARTITION BY p_brand
        |      ORDER BY c DESC, lag) AS rn
        |    FROM cnt) WHERE rn = 1),
        |ext AS (SELECT p_brand, CAST(min(lag) AS BIGINT) AS o,
        |    CAST(max(lag) AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS n
        |  FROM lg GROUP BY 1)
        |SELECT e.p_brand, n, o AS optimistic, m AS most_likely,
        |  p AS pessimistic,
        |  round(CAST(o + m * 4 + p AS DOUBLE) / 6.0, 4) AS pert_mean,
        |  round(CAST(p - o AS DOUBLE) / 6.0, 4) AS pert_sd
        |FROM ext e JOIN md USING (p_brand) ORDER BY e.p_brand"""
        .stripMargin,

    "q465_loess" ->
      """WITH li AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      AS DOUBLE) / 100.0 AS y
        |  FROM lineitem),
        |grid AS (SELECT CAST(g * 5 AS DOUBLE) AS x0
        |  FROM range(1, 11) t(g)),
        |wtd AS (SELECT x0, x, y,
        |    pow(1.0 - pow(abs(x - x0) / 12.5, 3.0), 3.0) AS w
        |  FROM li CROSS JOIN grid WHERE abs(x - x0) < 12.5),
        |sums AS (SELECT x0, CAST(count(*) AS BIGINT) AS n_window,
        |    sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
        |    sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
        |  FROM wtd GROUP BY 1)
        |SELECT x0, n_window,
        |  round((swy - ((sw * swxy - swx * swy) /
        |      (sw * swxx - swx * swx)) * swx) / sw
        |    + ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)) * x0,
        |    4) AS fitted
        |FROM sums ORDER BY x0""".stripMargin,

    "q466_min_variance" ->
      """WITH seg1 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS r1
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING' GROUP BY 1),
        |seg2 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS r2
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'MACHINERY' GROUP BY 1),
        |j AS (SELECT seg1.d, r1, r2 FROM seg1 JOIN seg2 USING (d)),
        |rets AS (SELECT ln(r1 / lag(r1) OVER (ORDER BY d)) AS x,
        |    ln(r2 / lag(r2) OVER (ORDER BY d)) AS y
        |  FROM j),
        |rr AS (SELECT * FROM rets WHERE x IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    avg(x * x) - avg(x) * avg(x) AS v1,
        |    avg(y * y) - avg(y) * avg(y) AS v2,
        |    avg(x * y) - avg(x) * avg(y) AS cv
        |  FROM rr),
        |wg AS (SELECT *, (v2 - cv) / (v1 + v2 - cv * 2) AS w FROM m)
        |SELECT n_days, round(w, 6) AS w_building,
        |  round(v1, 8) AS var_building, round(v2, 8) AS var_machinery,
        |  round(w * w * v1 + (1.0 - w) * (1.0 - w) * v2
        |    + 2.0 * w * (1.0 - w) * cv, 8) AS var_portfolio
        |FROM wg""".stripMargin,

    "q467_jain_fairness" ->
      """WITH pu AS (SELECT event_type, user_id,
        |    CAST(count(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |    sum(x) AS sx, sum(x * x) AS sxx
        |  FROM pu GROUP BY 1),
        |ov AS (SELECT 'ALL' AS event_type,
        |    CAST(count(*) AS BIGINT) AS n_users, sum(x) AS sx,
        |    sum(x * x) AS sxx
        |  FROM (SELECT user_id, CAST(count(*) AS DOUBLE) AS x
        |        FROM events GROUP BY 1)),
        |u AS (SELECT * FROM bt UNION ALL SELECT * FROM ov)
        |SELECT event_type, n_users,
        |  round(sx * sx / (n_users * sxx), 6) AS jain_index
        |FROM u ORDER BY event_type""".stripMargin,

    "q468_max_subarray" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT avg(rev) AS mu, min(d) AS d0 FROM daily),
        |p AS (SELECT d, d0, sum(rev - mu) OVER (ORDER BY d) AS pfx
        |  FROM daily CROSS JOIN mu),
        |sc AS (SELECT *, min(pfx) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
        |  FROM p),
        |sc2 AS (SELECT *, (mp IS NOT NULL AND mp <= 0) AS useBase,
        |    pfx - (CASE WHEN mp IS NOT NULL AND mp <= 0 THEN mp
        |      ELSE 0.0 END) AS score
        |  FROM sc),
        |e AS (SELECT d AS endd, d0, mp, useBase, score FROM sc2
        |  ORDER BY score DESC, d LIMIT 1),
        |st AS (SELECT e.endd, e.d0, e.useBase, e.score,
        |    min(p.d) AS amin
        |  FROM e LEFT JOIN p ON e.useBase AND p.d < e.endd
        |    AND p.pfx = e.mp
        |  GROUP BY 1, 2, 3, 4)
        |SELECT strftime(CASE WHEN useBase THEN amin + 1 ELSE d0 END,
        |    '%Y-%m-%d') AS start_day,
        |  strftime(endd, '%Y-%m-%d') AS end_day,
        |  CAST(date_diff('day', CASE WHEN useBase THEN amin + 1
        |    ELSE d0 END, endd) + 1 AS BIGINT) AS n_days,
        |  round(score / 100.0, 2) AS excess_revenue
        |FROM st""".stripMargin,

    "q469_absorbing_chain" ->
      """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |uw AS (SELECT DISTINCT user_id,
        |    date_diff('day', d0, CAST(ts AS DATE)) AS wk
        |  FROM events CROSS JOIN d0
        |  WHERE event_type = 'purchase'
        |    AND date_diff('day', d0, CAST(ts AS DATE)) <= 29),
        |users AS (SELECT DISTINCT user_id FROM events),
        |weeks AS (SELECT CAST(w AS BIGINT) AS wk FROM range(30) t(w)),
        |states AS (SELECT u.user_id, w.wk,
        |    uw.user_id IS NOT NULL AS act
        |  FROM users u CROSS JOIN weeks w
        |  LEFT JOIN uw ON uw.user_id = u.user_id AND uw.wk = w.wk),
        |trans AS (SELECT act,
        |    lag(act) OVER (PARTITION BY user_id ORDER BY wk) AS prev
        |  FROM states),
        |tt AS (SELECT * FROM trans WHERE prev IS NOT NULL),
        |cnts AS (SELECT
        |    CAST(sum(CASE WHEN prev AND act THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS aa,
        |    CAST(sum(CASE WHEN prev AND NOT act THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ad,
        |    CAST(sum(CASE WHEN NOT prev AND act THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS da,
        |    CAST(sum(CASE WHEN NOT prev AND NOT act THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS dc
        |  FROM tt),
        |p AS (SELECT aa, ad, da, dc,
        |    aa / (aa + ad) AS paa, ad / (aa + ad) AS pad,
        |    da / (da + dc) AS pda FROM cnts),
        |dt AS (SELECT *, (1.0 - paa) - pad * pda AS det FROM p)
        |SELECT
        |  CASE WHEN aa + ad > 0 THEN round(paa, 6) END
        |    AS p_active_active,
        |  CASE WHEN aa + ad > 0 THEN round(pad, 6) END
        |    AS p_active_dormant,
        |  CASE WHEN da + dc > 0 THEN round(pda, 6) END
        |    AS p_dormant_active,
        |  CASE WHEN aa + ad > 0 AND da + dc > 0
        |    THEN round((1.0 + pad) / det, 4) END
        |    AS exp_periods_from_active,
        |  CASE WHEN aa + ad > 0 AND da + dc > 0
        |    THEN round((pda + (1.0 - paa)) / det, 4) END
        |    AS exp_periods_from_dormant
        |FROM dt""".stripMargin,

    "q470_capm_beta" ->
      """WITH seg AS (SELECT c.c_mktsegment AS sg,
        |    CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |mkt AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS mrev
        |  FROM orders GROUP BY 1),
        |j AS (SELECT sg, seg.d, rev, mrev FROM seg JOIN mkt USING (d)),
        |rets AS (SELECT sg, ln(rev / lag(rev) OVER w) AS rs,
        |    ln(mrev / lag(mrev) OVER w) AS rm
        |  FROM j WINDOW w AS (PARTITION BY sg ORDER BY d)),
        |rr AS (SELECT * FROM rets WHERE rs IS NOT NULL),
        |m AS (SELECT sg, CAST(count(*) AS BIGINT) AS n,
        |    avg(rs * rm) - avg(rs) * avg(rm) AS cv,
        |    avg(rm * rm) - avg(rm) * avg(rm) AS vm,
        |    avg(rs * rs) - avg(rs) * avg(rs) AS vs,
        |    avg(rs) AS ms, avg(rm) AS mm
        |  FROM rr GROUP BY 1)
        |SELECT sg AS segment, n, round(cv / vm, 6) AS beta,
        |  round(ms - cv / vm * mm, 6) AS alpha,
        |  round(cv * cv / (vm * vs), 6) AS r2
        |FROM m ORDER BY segment""".stripMargin,

    "q471_poisson_glm" -> {
      val step = (i: Int) =>
        s"""pm${i}_ AS (SELECT y, x, exp(a + b * x) AS mu, a, b
           |  FROM dx CROSS JOIN p${i - 1}_),
           |ps${i}_ AS (SELECT min(a) AS a, min(b) AS b, sum(mu) AS s0,
           |    sum(mu * x) AS s1, sum(mu * x * x) AS s2,
           |    sum(y - mu) AS g0, sum((y - mu) * x) AS g1
           |  FROM pm${i}_),
           |p${i}_ AS (SELECT
           |    a + (g0 * s2 - g1 * s1) / (s0 * s2 - s1 * s1) AS a,
           |    b + (s0 * g1 - s1 * g0) / (s0 * s2 - s1 * s1) AS b
           |  FROM ps${i}_)""".stripMargin
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
         |    CAST(count(*) AS DOUBLE) AS y
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |dx AS (SELECT y, CASE WHEN isodow(d) IN (6, 7) THEN 1.0
         |    ELSE 0.0 END AS x
         |  FROM daily),
         |p0_ AS (SELECT ln(avg(y)) AS a, 0.0 AS b FROM dx),
         |${(1 to 3).map(step).mkString(",\n")}
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dx) AS n_days,
         |  (SELECT CAST(sum(CASE WHEN x = 1.0 THEN 1 ELSE 0 END)
         |    AS BIGINT) FROM dx) AS n_weekend_days,
         |  round(a, 6) AS intercept, round(b, 6) AS weekend_coef,
         |  round(exp(a), 4) AS weekday_rate,
         |  round(exp(b), 6) AS weekend_rate_ratio
         |FROM p3_""".stripMargin
    },

    "q472_wilcoxon_signed_rank" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s95,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s96
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |dd AS (SELECT s96 - s95 AS dd FROM spend
        |  WHERE s95 > 0 AND s96 > 0 AND s96 - s95 <> 0),
        |grp AS (SELECT abs(dd) AS ad, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos
        |  FROM dd GROUP BY 1),
        |cum AS (SELECT *, CAST(sum(t) OVER (ORDER BY ad) AS BIGINT)
        |    AS cb FROM grp),
        |nn AS (SELECT CAST(sum(t) AS DOUBLE) AS n FROM grp),
        |stats AS (SELECT min(nn.n) AS n,
        |    sum(CAST(pos AS DOUBLE) * (CAST(cb - t AS DOUBLE) +
        |      (CAST(t AS DOUBLE) + 1) / 2)) AS wplus,
        |    sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) *
        |      CAST(t AS DOUBLE) - CAST(t AS DOUBLE)) AS ties
        |  FROM cum CROSS JOIN nn),
        |zc AS (SELECT n, wplus, ties,
        |    (wplus - n * (n + 1) / 4) /
        |      sqrt(n * (n + 1) * (n * 2 + 1) / 24 - ties / 48) AS z
        |  FROM stats),
        |xt AS (SELECT *, abs(z) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        |  FROM zc)
        |SELECT CAST(n AS BIGINT) AS n_pairs, round(wplus, 1) AS w_plus,
        |  round(z, 6) AS z,
        |  round((0.254829592 * tt - 0.284496736 * tt * tt
        |    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt
        |    * tt + 1.061405429 * tt * tt * tt * tt * tt) * exp(-x * x),
        |    6) AS p_two_sided
        |FROM xt""".stripMargin,

    "q473_stochastic_dominance" ->
      """WITH base AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |grid AS (SELECT v,
        |    CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM base GROUP BY 1),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY v) AS BIGINT)
        |    AS rk FROM grid),
        |nxt AS (SELECT rk - 1 AS rk, v AS nv FROM rk),
        |ww AS (SELECT r.*, COALESCE(n.nv - r.v, 0) AS w
        |  FROM rk r LEFT JOIN nxt n USING (rk)),
        |cum AS (SELECT *,
        |    CAST(sum(c1) OVER (ORDER BY rk) AS BIGINT) AS cum1,
        |    CAST(sum(c2) OVER (ORDER BY rk) AS BIGINT) AS cum2
        |  FROM ww),
        |ints AS (SELECT *,
        |    CAST(sum(cum1 * w) OVER (ORDER BY rk) AS BIGINT) AS i1,
        |    CAST(sum(cum2 * w) OVER (ORDER BY rk) AS BIGINT) AS i2
        |  FROM cum),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1,
        |    CAST(sum(c2) AS DOUBLE) AS n2 FROM grid),
        |gaps AS (SELECT
        |    CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2
        |      AS cdf_gap,
        |    CAST(i1 - cum1 * w AS DOUBLE) / n1
        |      - CAST(i2 - cum2 * w AS DOUBLE) / n2 AS int_gap
        |  FROM ints CROSS JOIN tot),
        |ag AS (SELECT min(cdf_gap) AS mn, max(cdf_gap) AS mx,
        |    min(int_gap) AS mi FROM gaps)
        |SELECT CAST(n1 AS BIGINT) AS n_1995, CAST(n2 AS BIGINT)
        |    AS n_1996,
        |  round(mn, 6) AS min_cdf_gap, round(mx, 6) AS max_cdf_gap,
        |  mn >= 0 AS fsd_1996_dominates,
        |  round(mi, 4) AS min_integral_gap,
        |  mi >= 0 AS ssd_1996_dominates
        |FROM ag CROSS JOIN tot""".stripMargin,

    "q474_bandit_replay" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cAggs = types.map(tp =>
        s"CAST(sum(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS DOUBLE) AS c_$tp")
        .mkString(",\n    ")
      val sCols = types.map(tp => s"c_$tp / tot AS s_$tp")
        .mkString(", ")
      val mCols = types.map(tp =>
        s"COALESCE(avg(s_$tp) OVER w, 0.0) AS m_$tp").mkString(",\n    ")
      def argmaxCase(prefix: String, quote: Boolean): String = {
        val branches = types.init.zipWithIndex.map { case (tp, i) =>
          val conds = types.drop(i + 1)
            .map(o => s"$prefix$tp >= $prefix$o").mkString(" AND ")
          s"WHEN $conds THEN '$tp'"
        }.mkString(" ")
        s"CASE $branches ELSE '${types.last}' END"
      }
      val rewardCase = "CASE pick " + types.init.map(tp =>
        s"WHEN '$tp' THEN s_$tp").mkString(" ") +
        s" ELSE s_${types.last} END"
      val bAvgs = types.map(tp => s"avg(s_$tp) AS b_$tp").mkString(", ")
      val bGreatest = types.map(tp => s"b_$tp").mkString("greatest(", ", ", ")")
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
         |    CAST(count(*) AS DOUBLE) AS tot,
         |    $cAggs
         |  FROM events GROUP BY 1),
         |shares AS (SELECT d, $sCols FROM daily),
         |wm AS (SELECT *,
         |    $mCols
         |  FROM shares WINDOW w AS (ORDER BY d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |picked AS (SELECT *, ${argmaxCase("m_", true)} AS pick FROM wm),
         |pr AS (SELECT *, $rewardCase AS reward FROM picked),
         |best AS (SELECT $bAvgs FROM shares),
         |ag AS (SELECT CAST(count(*) AS DOUBLE) AS n_days,
         |    sum(reward) AS total_reward FROM pr)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  round(total_reward, 6) AS total_reward,
         |  ${argmaxCase("b_", true)} AS best_arm,
         |  round($bGreatest * n_days, 6) AS best_reward,
         |  round($bGreatest * n_days - total_reward, 6) AS regret
         |FROM ag CROSS JOIN best""".stripMargin
    },

    "q475_floyd_warshall" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val steps = types.zipWithIndex.map { case (k, i) =>
        s"""fw${i + 1} AS (SELECT a.src, a.dst,
           |    CASE WHEN ik.dik IS NOT NULL AND kj.dkj IS NOT NULL
           |        AND (a.d IS NULL OR ik.dik + kj.dkj < a.d)
           |      THEN ik.dik + kj.dkj ELSE a.d END AS d
           |  FROM fw$i a
           |  LEFT JOIN (SELECT src, d AS dik FROM fw$i
           |    WHERE dst = '$k' AND d IS NOT NULL) ik ON a.src = ik.src
           |  LEFT JOIN (SELECT dst, d AS dkj FROM fw$i
           |    WHERE src = '$k' AND d IS NOT NULL) kj
           |    ON a.dst = kj.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT src, sum(c) AS rt FROM tr GROUP BY 1),
         |edges AS (SELECT t.src, t.dst, -ln(t.c / r.rt) AS d
         |  FROM tr t JOIN rt r USING (src)),
         |ty(t) AS (VALUES ('click'), ('error'), ('purchase'),
         |  ('signup'), ('view')),
         |uni AS (SELECT a.t AS src, b.t AS dst
         |  FROM ty a CROSS JOIN ty b),
         |fw0 AS (SELECT u.src, u.dst,
         |    CASE WHEN u.src = u.dst THEN 0.0 ELSE e.d END AS d
         |  FROM uni u LEFT JOIN edges e ON u.src = e.src
         |    AND u.dst = e.dst),
         |$steps
         |SELECT src, dst, round(d, 6) AS dist FROM fw5
         |ORDER BY src, dst""".stripMargin
    },

    "q476_stratified_km" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT c.c_mktsegment AS sg,
        |    CAST(date_diff('day', min(o.o_orderdate),
        |      max(o.o_orderdate)) AS BIGINT) AS dur,
        |    date_diff('day', max(o.o_orderdate), min(mx.mx)) > 90
        |      AS event
        |  FROM orders o CROSS JOIN mx
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey),
        |byd AS (SELECT sg, dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM cust GROUP BY 1, 2),
        |tot AS (SELECT sg, CAST(sum(c_all) AS BIGINT) AS n_total
        |  FROM byd GROUP BY 1),
        |cum AS (SELECT *, CAST(sum(c_all) OVER (PARTITION BY sg
        |    ORDER BY dur) AS BIGINT) AS cum_all FROM byd),
        |risk AS (SELECT c.sg, c.dur, c.c_all, c.d, t.n_total,
        |    t.n_total - (c.cum_all - c.c_all) AS n_risk
        |  FROM cum c JOIN tot t USING (sg)
        |  WHERE c.d > 0
        |    AND t.n_total - (c.cum_all - c.c_all) > c.d),
        |lns AS (SELECT *, ln(CAST(n_risk - d AS DOUBLE) /
        |    CAST(n_risk AS DOUBLE)) AS lnS FROM risk)
        |SELECT sg AS segment, min(n_total) AS n_customers,
        |  round(exp(sum(CASE WHEN dur <= 30 THEN lnS ELSE 0.0 END)), 6)
        |    AS s30,
        |  round(exp(sum(CASE WHEN dur <= 60 THEN lnS ELSE 0.0 END)), 6)
        |    AS s60,
        |  round(exp(sum(CASE WHEN dur <= 90 THEN lnS ELSE 0.0 END)), 6)
        |    AS s90
        |FROM lns GROUP BY 1 ORDER BY segment""".stripMargin,

    "q477_successive_halving" ->
      s"""${qualityCteSql(", source")},
         |h AS (SELECT source, quality,
         |    (${graft.ops.Sampling.keyHashSql("doc_id")}) % 100 AS b
         |  FROM q),
         |m1 AS (SELECT source,
         |    COALESCE(avg(CASE WHEN b < 10 THEN quality END), 0.0) AS m
         |  FROM h GROUP BY 1),
         |s1 AS (SELECT source FROM (SELECT source,
         |    row_number() OVER (ORDER BY m DESC, source) AS rk FROM m1)
         |  WHERE rk <= 10),
         |m2 AS (SELECT h.source,
         |    COALESCE(avg(CASE WHEN b < 20 THEN quality END), 0.0) AS m
         |  FROM h JOIN s1 ON h.source = s1.source GROUP BY 1),
         |s2 AS (SELECT source FROM (SELECT source,
         |    row_number() OVER (ORDER BY m DESC, source) AS rk FROM m2)
         |  WHERE rk <= 5),
         |m3 AS (SELECT h.source,
         |    COALESCE(avg(CASE WHEN b < 40 THEN quality END), 0.0) AS m
         |  FROM h JOIN s2 ON h.source = s2.source GROUP BY 1),
         |s3 AS (SELECT source FROM (SELECT source,
         |    row_number() OVER (ORDER BY m DESC, source) AS rk FROM m3)
         |  WHERE rk <= 2),
         |m4 AS (SELECT h.source,
         |    COALESCE(avg(CASE WHEN b < 80 THEN quality END), 0.0) AS m
         |  FROM h JOIN s3 ON h.source = s3.source GROUP BY 1)
         |SELECT CAST(rk AS BIGINT) AS final_rank, source,
         |  round(m, 6) AS mean_quality_80pct
         |FROM (SELECT source, m,
         |    row_number() OVER (ORDER BY m DESC, source) AS rk FROM m4)
         |WHERE rk <= 2 ORDER BY final_rank""".stripMargin,

    "q478_oaxaca" ->
      """WITH base AS (SELECT c_nationkey AS nk,
        |    c_mktsegment = 'AUTOMOBILE' AS isA,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS c
        |  FROM customer
        |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
        |cells AS (SELECT nk, na, nb, sa, sb,
        |    CAST(sa AS DOUBLE) / na / 100.0 AS ma,
        |    CAST(sb AS DOUBLE) / nb / 100.0 AS mb
        |  FROM (SELECT nk,
        |      CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END) AS DOUBLE)
        |        AS na,
        |      CAST(sum(CASE WHEN NOT isA THEN 1 ELSE 0 END) AS DOUBLE)
        |        AS nb,
        |      CAST(sum(CASE WHEN isA THEN c ELSE 0 END) AS BIGINT)
        |        AS sa,
        |      CAST(sum(CASE WHEN NOT isA THEN c ELSE 0 END) AS BIGINT)
        |        AS sb
        |    FROM base GROUP BY 1)
        |  WHERE na > 0 AND nb > 0),
        |tots AS (SELECT sum(na) AS ta, sum(nb) AS tb,
        |    CAST(sum(sa) AS BIGINT) AS tsa,
        |    CAST(sum(sb) AS BIGINT) AS tsb
        |  FROM cells),
        |dec AS (SELECT CAST(count(*) AS BIGINT) AS n_nations,
        |    min(CAST(tsa AS DOUBLE) / ta / 100.0) AS mean_a,
        |    min(CAST(tsb AS DOUBLE) / tb / 100.0) AS mean_b,
        |    sum((na / ta - nb / tb) * mb) AS explained,
        |    sum(na / ta * (ma - mb)) AS unexplained
        |  FROM cells CROSS JOIN tots)
        |SELECT n_nations, round(mean_a, 4) AS mean_auto,
        |  round(mean_b, 4) AS mean_building,
        |  round(mean_a - mean_b, 4) AS gap,
        |  round(explained, 4) AS explained_by_nation,
        |  round(unexplained, 4) AS unexplained
        |FROM dec""".stripMargin,

    "q479_cross_elasticity" ->
      """WITH bd AS (SELECT p.p_brand, CAST(o.o_orderdate AS DATE) AS d,
        |    sum(CAST(l.l_quantity AS DOUBLE)) AS qty,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE) / 100.0 AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand IN ('Brand#11', 'Brand#12')
        |  GROUP BY 1, 2),
        |a AS (SELECT d, ln(qty) AS lq FROM bd
        |  WHERE p_brand = 'Brand#11'),
        |b AS (SELECT d, ln(rev / qty) AS lp FROM bd
        |  WHERE p_brand = 'Brand#12'),
        |j AS (SELECT lq, lp FROM a JOIN b USING (d)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    avg(lp * lq) - avg(lp) * avg(lq) AS cxy,
        |    avg(lp * lp) - avg(lp) * avg(lp) AS cxx,
        |    avg(lq * lq) - avg(lq) * avg(lq) AS cyy
        |  FROM j)
        |SELECT n_days, round(cxy / cxx, 6) AS cross_elasticity,
        |  round(cxy * cxy / (cxx * cyy), 6) AS r2
        |FROM m""".stripMargin,

    "q480_logistic_growth" ->
      """WITH fs AS (SELECT user_id, min(epoch_us(ts)) AS ft
        |  FROM events GROUP BY 1),
        |k AS (SELECT CAST(count(*) AS DOUBLE) AS k, min(ft) AS t0
        |  FROM fs),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY ft, user_id) AS BIGINT)
        |      AS i
        |  FROM fs),
        |cc AS (SELECT CAST(ft - t0 AS DOUBLE) / 3.6e9 AS t,
        |    ln(k / CAST(i AS DOUBLE) - 1.0) AS y, k
        |  FROM r CROSS JOIN k WHERE i < k),
        |m AS (SELECT min(k) AS k, CAST(count(*) AS DOUBLE) AS n,
        |    avg(t) AS mt, avg(y) AS my,
        |    avg(t * y) - avg(t) * avg(y) AS cty,
        |    avg(t * t) - avg(t) * avg(t) AS ctt,
        |    avg(y * y) - avg(y) * avg(y) AS cyy
        |  FROM cc)
        |SELECT CAST(k AS BIGINT) AS k_users, CAST(n AS BIGINT)
        |    AS n_points,
        |  round(-(cty / ctt), 6) AS growth_rate,
        |  round((my - cty / ctt * mt) / (-(cty / ctt)), 4)
        |    AS t_inflection_hours,
        |  round(cty * cty / (ctt * cyy), 6) AS r2
        |FROM m""".stripMargin,

    "q481_cointegration" ->
      """WITH s1 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING' GROUP BY 1),
        |s2 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'MACHINERY' GROUP BY 1),
        |j AS (SELECT s1.d, ln(s1.rev) AS x, ln(s2.rev) AS y
        |  FROM s1 JOIN s2 USING (d)),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mx,
        |    avg(y) AS my,
        |    (avg(x * y) - avg(x) * avg(y)) /
        |      (avg(x * x) - avg(x) * avg(x)) AS b
        |  FROM j),
        |resid AS (SELECT d, n, y - my - b * (x - mx) AS e
        |  FROM j CROSS JOIN fit),
        |df0 AS (SELECT n, e - lag(e) OVER (ORDER BY d) AS de,
        |    lag(e) OVER (ORDER BY d) AS ep
        |  FROM resid),
        |dfx AS (SELECT * FROM df0 WHERE ep IS NOT NULL),
        |f2 AS (SELECT sum(ep * de) / sum(ep * ep) AS rho,
        |    sum(ep * ep) AS see, CAST(count(*) AS DOUBLE) AS m
        |  FROM dfx),
        |ss AS (SELECT min(dfx.n) AS n, min(f2.rho) AS rho,
        |    min(f2.see) AS see, min(f2.m) AS m,
        |    sum((de - rho * ep) * (de - rho * ep)) AS sse
        |  FROM dfx CROSS JOIN f2),
        |st AS (SELECT *, rho / sqrt(sse / (m - 1) / see) AS dfstat
        |  FROM ss)
        |SELECT n AS n_days, (SELECT round(b, 6) FROM fit) AS coint_beta,
        |  round(rho, 6) AS rho, round(dfstat, 4) AS df_stat,
        |  dfstat < -3.34 AS cointegrated_5pct
        |FROM st""".stripMargin,

    "q482_kalman_level" -> {
      val ycols = (0 to 29).map(k => s"y$k").mkString(", ")
      val ySum = (0 to 29).map(k => s"y$k").mkString(" + ")
      val vSum = (0 to 29).map(k => s"(y$k - mean) * (y$k - mean)")
        .mkString(" + ")
      val steps = (1 to 29).map { k =>
        s"""k${k}_ AS (SELECT $ycols,
           |    x + (p + q) / (p + q + r) * (y$k - x) AS x, r, q,
           |    (1.0 - (p + q) / (p + q + r)) * (p + q) AS p,
           |    sse + (y$k - x) * (y$k - x) AS sse
           |  FROM k${k - 1}_)""".stripMargin
      }.mkString(",\n")
      s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
         |idx AS (SELECT date_diff('day', d0, CAST(ts AS DATE)) AS k
         |  FROM events CROSS JOIN d0),
         |wide AS (SELECT ${(0 to 29).map(k =>
        s"CAST(sum(CASE WHEN k = $k THEN 1 ELSE 0 END) AS DOUBLE) AS y$k")
        .mkString(", ")}
         |  FROM idx),
         |wm AS (SELECT *, ($ySum) / 30.0 AS mean FROM wide),
         |wv AS (SELECT *, ($vSum) / 30.0 AS r FROM wm),
         |k0_ AS (SELECT $ycols, y0 AS x, r, r / 10.0 AS q, r AS p,
         |    0.0 AS sse
         |  FROM wv),
         |$steps
         |SELECT CAST(30 AS BIGINT) AS n_days,
         |  round(x, 4) AS final_level,
         |  round((p + q) / (p + q + r), 6) AS steady_gain,
         |  round(sqrt(sse / 29.0), 4) AS innovation_rmse
         |FROM k29_""".stripMargin
    },

    "q483_graph_churn" ->
      s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
         |ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    date_diff('day', d0, CAST(ts AS DATE)) AS day
         |  FROM events CROSS JOIN d0),
         |sq AS (SELECT day, item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM ev),
         |w0 AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item
         |    AND day BETWEEN 0 AND 6),
         |w3 AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item
         |    AND day BETWEEN 21 AND 27),
         |f AS (SELECT w0.src AS s0, w3.src AS s3
         |  FROM w0 FULL OUTER JOIN w3
         |    ON w0.src = w3.src AND w0.dst = w3.dst)
         |SELECT
         |  CAST(sum(CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS edges_week0,
         |  CAST(sum(CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS edges_week3,
         |  CAST(sum(CASE WHEN s0 IS NOT NULL AND s3 IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS retained,
         |  CAST(sum(CASE WHEN s0 IS NULL AND s3 IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS added,
         |  CAST(sum(CASE WHEN s0 IS NOT NULL AND s3 IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
         |  round(CAST(sum(CASE WHEN s0 IS NOT NULL AND s3 IS NOT NULL
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS edge_jaccard
         |FROM f""".stripMargin,

    "q484_stockout_signal" ->
      """WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS dd FROM days),
        |bd AS (SELECT p.p_brand,
        |    CAST(count(DISTINCT CAST(o.o_orderdate AS DATE)) AS DOUBLE)
        |      AS active,
        |    CAST(count(*) AS DOUBLE) AS n_items
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |z AS (SELECT p_brand, dd - active AS zero_obs,
        |    n_items / dd AS lam, exp(-(n_items / dd)) AS p0, dd
        |  FROM bd CROSS JOIN nd),
        |zz AS (SELECT p_brand, zero_obs, dd * p0 AS zero_exp,
        |    (zero_obs - dd * p0) / sqrt(dd * p0 * (1.0 - p0)) AS z
        |  FROM z)
        |SELECT p_brand, CAST(zero_obs AS BIGINT) AS zero_days,
        |  round(zero_exp, 2) AS expected_zero_days, round(z, 4) AS z,
        |  z > 2.0 AS excess_stockouts
        |FROM zz ORDER BY p_brand""".stripMargin,

    "q485_huber_location" -> {
      val step = (i: Int) =>
        s"""m${i}_ AS (SELECT sum(w * x) / sum(w) AS mu FROM (
           |  SELECT x, least(1.0, 1.345 * s /
           |      greatest(abs(x - mu), 1e-9)) AS w
           |  FROM xs CROSS JOIN m${i - 1}_ CROSS JOIN mad))""".stripMargin
      s"""WITH xs AS (SELECT CAST(c_acctbal AS DOUBLE) AS x
         |  FROM customer),
         |med AS (SELECT median(x) AS med FROM xs),
         |mad AS (SELECT min(med) AS med,
         |    1.4826 * median(abs(x - med)) AS s
         |  FROM xs CROSS JOIN med),
         |m0_ AS (SELECT avg(x) AS mu FROM xs),
         |${(1 to 3).map(step).mkString(",\n")}
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM xs) AS n,
         |  round((SELECT avg(x) FROM xs), 4) AS mean,
         |  round((SELECT med FROM med), 4) AS median,
         |  round(mu, 4) AS huber_location
         |FROM m3_""".stripMargin
    },

    "q486_partition_agreement" ->
      """WITH sup AS (SELECT CAST(s_nationkey AS BIGINT) AS a,
        |    CAST((s_suppkey * 48271 + 99991) % 1000000 AS BIGINT)
        |      // 500000 * 2 +
        |    CAST((s_suppkey * 16807 + 12347) % 1000000 AS BIGINT)
        |      // 500000 AS b
        |  FROM supplier),
        |cells AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS nij
        |  FROM sup GROUP BY 1, 2),
        |rows_ AS (SELECT a, sum(nij) AS ai FROM cells GROUP BY 1),
        |cols_ AS (SELECT b, sum(nij) AS bj FROM cells GROUP BY 1),
        |nn AS (SELECT sum(nij) AS nn FROM cells),
        |s1 AS (SELECT sum(nij * (nij - 1) / 2.0) AS sij FROM cells),
        |s2 AS (SELECT sum(ai * (ai - 1) / 2.0) AS sa FROM rows_),
        |s3 AS (SELECT sum(bj * (bj - 1) / 2.0) AS sb FROM cols_),
        |mi AS (SELECT sum(nij / nn.nn *
        |    ln(nij * nn.nn / (ai * bj))) AS mi
        |  FROM cells JOIN rows_ USING (a) JOIN cols_ USING (b)
        |  CROSS JOIN nn),
        |ha AS (SELECT sum(-(ai / nn.nn) * ln(ai / nn.nn)) AS ha
        |  FROM rows_ CROSS JOIN nn),
        |hb AS (SELECT sum(-(bj / nn.nn) * ln(bj / nn.nn)) AS hb
        |  FROM cols_ CROSS JOIN nn),
        |fin AS (SELECT nn.nn, s1.sij, s2.sa, s3.sb, mi.mi, ha.ha, hb.hb,
        |    s2.sa * s3.sb / (nn.nn * (nn.nn - 1) / 2.0) AS ex
        |  FROM s1 CROSS JOIN s2 CROSS JOIN s3 CROSS JOIN nn
        |  CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb)
        |SELECT CAST(nn AS BIGINT) AS n_points,
        |  round((sij - ex) / ((sa + sb) / 2.0 - ex), 6) AS ari,
        |  round(mi / sqrt(ha * hb), 6) AS nmi
        |FROM fin""".stripMargin,

    "q487_mean_excess" ->
      """WITH base AS (SELECT o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY v, ok) AS BIGINT) AS rk
        |  FROM base),
        |pcts AS (SELECT CAST(p * 10 AS BIGINT) AS pct
        |  FROM range(5, 10) t(p)),
        |thr AS (SELECT pct, v AS u
        |  FROM r CROSS JOIN nn CROSS JOIN pcts
        |  WHERE rk = (n * pct) // 100),
        |ex AS (SELECT t.pct, t.u, CAST(count(*) AS BIGINT) AS n_exceed,
        |    avg(CAST(b.v - t.u AS DOUBLE) / 100.0) AS me
        |  FROM base b CROSS JOIN thr t WHERE b.v > t.u
        |  GROUP BY 1, 2)
        |SELECT pct, round(CAST(u AS DOUBLE) / 100.0, 2) AS threshold,
        |  n_exceed, round(me, 4) AS mean_excess
        |FROM ex ORDER BY pct""".stripMargin,

    "q488_first_passage" -> {
      val types = Seq("click", "error", "signup", "view")
      val pAggs = (for { i <- types; j <- types } yield
        s"COALESCE(max(CASE WHEN src = '$i' AND dst = '$j' THEN p END), 0.0) AS p_${i}_$j")
        .mkString(",\n    ")
      val pCols = (for { i <- types; j <- types } yield s"p_${i}_$j")
        .mkString(", ")
      val steps = (1 to 20).map { t =>
        val hs = types.map { i =>
          val terms = types.map(j => s"p_${i}_$j * h_$j")
            .mkString(" + ")
          s"1.0 + ($terms) AS h_$i"
        }.mkString(",\n    ")
        s"""j${t}_ AS (SELECT $pCols,
           |    $hs
           |  FROM j${t - 1}_)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT src, sum(c) AS rt FROM tr GROUP BY 1),
         |p AS (SELECT t.src, t.dst, t.c / r.rt AS p
         |  FROM tr t JOIN rt r USING (src)),
         |w AS (SELECT
         |    $pAggs
         |  FROM p),
         |j0_ AS (SELECT *, ${types.map(i => s"1.0 AS h_$i")
        .mkString(", ")} FROM w),
         |$steps
         |SELECT from_state, expected_steps_to_purchase FROM (
         |  ${types.map(i =>
        s"SELECT '$i' AS from_state, round(h_$i, 4) AS expected_steps_to_purchase FROM j20_")
        .mkString("\n  UNION ALL\n  ")})
         |ORDER BY from_state""".stripMargin
    },

    "q489_gini_decomposition" ->
      """WITH spend AS (SELECT c.c_mktsegment AS sg, o.o_custkey,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ov AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx,
        |    CAST(sum(r * x) AS DOUBLE) AS srx FROM (
        |    SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
        |      AS BIGINT) AS r
        |    FROM spend)),
        |og AS (SELECT n, sx,
        |    2.0 * srx / (n * sx) - (n + 1) / n AS g FROM ov),
        |ps AS (SELECT sg, CAST(count(*) AS DOUBLE) AS ng,
        |    CAST(sum(x) AS DOUBLE) AS sxg,
        |    CAST(sum(r * x) AS DOUBLE) AS srxg FROM (
        |    SELECT sg, x, CAST(row_number() OVER (PARTITION BY sg
        |      ORDER BY x, o_custkey) AS BIGINT) AS r
        |    FROM spend)
        |  GROUP BY 1),
        |pg AS (SELECT *,
        |    2.0 * srxg / (ng * sxg) - (ng + 1) / ng AS gg,
        |    sxg / ng AS mu
        |  FROM ps),
        |wi AS (SELECT sum(ng / og.n * (sxg / og.sx) * gg) AS within
        |  FROM pg CROSS JOIN og),
        |bt AS (SELECT min(og.n) AS n, min(og.sx) AS sx,
        |    min(og.g) AS g,
        |    sum(a.ng * b.ng * abs(a.mu - b.mu)) /
        |      (2.0 * min(og.n) * min(og.n) * (min(og.sx) / min(og.n)))
        |      AS between_
        |  FROM pg a CROSS JOIN pg b CROSS JOIN og)
        |SELECT round(g, 6) AS gini_total,
        |  round(between_, 6) AS between_groups,
        |  round(within, 6) AS within_groups,
        |  round(g - between_ - within, 6) AS overlap
        |FROM bt CROSS JOIN wi""".stripMargin,

    "q490_dorfman" ->
      """WITH p AS (SELECT CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS p
        |  FROM lineitem),
        |sizes AS (SELECT CAST(sz AS BIGINT) AS sz
        |  FROM range(2, 13) t(sz)),
        |curve AS (SELECT sz, p,
        |    1.0 / sz + 1.0 - pow(1.0 - p, CAST(sz AS DOUBLE)) AS ept
        |  FROM sizes CROSS JOIN p),
        |best AS (SELECT min(ept) AS mn FROM curve)
        |SELECT sz AS pool_size, round(p, 6) AS defect_rate,
        |  round(ept, 6) AS expected_tests_per_item,
        |  ept = mn AS is_optimal
        |FROM curve CROSS JOIN best ORDER BY pool_size""".stripMargin,

    "q491_systematic_pps" ->
      """WITH parts AS (SELECT p_partkey AS pk,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS w
        |  FROM part),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
        |    CAST(count(*) AS BIGINT) AS n_items FROM parts),
        |cum AS (SELECT *, CAST(sum(w) OVER (ORDER BY pk) AS BIGINT)
        |    AS cw FROM parts),
        |hits AS (SELECT *, tw // 100 AS step,
        |    cw // (tw // 100) - (cw - w) // (tw // 100) AS k
        |  FROM cum CROSS JOIN tot),
        |hh AS (SELECT * FROM hits WHERE k > 0)
        |SELECT min(n_items) AS n_items, CAST(100 AS BIGINT) AS n_target,
        |  CAST(count(*) AS BIGINT) AS n_hit_items,
        |  CAST(sum(k) AS BIGINT) AS total_hits,
        |  round(CAST(sum(w) AS DOUBLE) / min(tw), 6)
        |    AS sel_weight_share
        |FROM hh""".stripMargin,

    "q492_aipw_ate" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_nationkey AS nk,
        |    c.c_acctbal > 5000.0 AS tr,
        |    CAST(COALESCE(oc.cnt, 0) AS DOUBLE) AS y
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |gm AS (SELECT avg(CASE WHEN tr THEN y END) AS m1,
        |    avg(CASE WHEN NOT tr THEN y END) AS m0 FROM base),
        |strat AS (SELECT nk, CAST(count(*) AS DOUBLE) AS ns,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS DOUBLE) AS nt
        |  FROM base GROUP BY 1),
        |se AS (SELECT nk, nt / ns AS e FROM strat),
        |oks AS (SELECT nk, e FROM se WHERE e > 0 AND e < 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_strata
        |  FROM se WHERE NOT (e > 0 AND e < 1)),
        |units AS (SELECT b.*, oks.e, gm.m1, gm.m0
        |  FROM base b JOIN oks USING (nk) CROSS JOIN gm),
        |est AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(m1 - m0 + CASE WHEN tr THEN (y - m1) / e
        |      ELSE -(y - m0) / (1.0 - e) END) AS aipw,
        |    sum(CASE WHEN tr THEN y / e ELSE 0.0 END) /
        |      sum(CASE WHEN tr THEN 1.0 / e ELSE 0.0 END) -
        |      sum(CASE WHEN NOT tr THEN y / (1.0 - e) ELSE 0.0 END) /
        |      sum(CASE WHEN NOT tr THEN 1.0 / (1.0 - e) ELSE 0.0 END)
        |      AS ipw,
        |    avg(CASE WHEN tr THEN y END) -
        |      avg(CASE WHEN NOT tr THEN y END) AS naive
        |  FROM units)
        |SELECT CAST(n AS BIGINT) AS n_units, nd.n_dropped_strata,
        |  round(naive, 4) AS ate_naive, round(ipw, 4) AS ate_ipw,
        |  round(aipw, 4) AS ate_aipw
        |FROM est CROSS JOIN nd""".stripMargin,

    "q493_ripley_k" ->
      """WITH sup AS (SELECT s_suppkey AS sk,
        |    CAST((s_suppkey * 48271 + 99991) % 1000000 AS BIGINT) AS x,
        |    CAST((s_suppkey * 16807 + 12347) % 1000000 AS BIGINT) AS y
        |  FROM supplier),
        |offs AS (SELECT dx.g - 1 AS dx, dy.g - 1 AS dy
        |  FROM range(3) dx(g) CROSS JOIN range(3) dy(g)),
        |expd AS (SELECT sk, x, y, x // 60000 + dx AS cx,
        |    y // 60000 + dy AS cy
        |  FROM sup CROSS JOIN offs),
        |base AS (SELECT sk, x, y, x // 60000 AS cx, y // 60000 AS cy
        |  FROM sup),
        |d2s AS (SELECT
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM base a JOIN expd b ON a.cx = b.cx AND a.cy = b.cy
        |    AND a.sk <> b.sk),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sup),
        |radii AS (SELECT CAST(r * 20000 AS BIGINT) AS r
        |  FROM range(1, 4) t(r)),
        |k0 AS (SELECT r, CAST(count(*) AS DOUBLE) AS np0
        |  FROM d2s CROSS JOIN radii WHERE d2 <= r * r GROUP BY 1),
        |k AS (SELECT radii.r, COALESCE(k0.np0, 0.0) AS np
        |  FROM radii LEFT JOIN k0 ON radii.r = k0.r),
        |kk AS (SELECT r, np, 1e12 * np / (n * (n - 1)) AS khat
        |  FROM k CROSS JOIN nn)
        |SELECT r, CAST(np AS BIGINT) AS n_pairs,
        |  round(khat / 1e9, 4) AS k_hat_1e9,
        |  round(sqrt(khat / pi()) - r, 2) AS l_minus_r
        |FROM kk ORDER BY r""".stripMargin,

    "q494_preferential_attachment" ->
      s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
         |ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    date_diff('day', d0, CAST(ts AS DATE)) AS day
         |  FROM events CROSS JOIN d0),
         |sq AS (SELECT day, item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM ev),
         |w0 AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item AND day <= 6),
         |later0 AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item AND day > 6),
         |later AS (SELECT l.src, l.dst FROM later0 l
         |  LEFT JOIN w0 ON l.src = w0.src AND l.dst = w0.dst
         |  WHERE w0.src IS NULL),
         |deg0 AS (SELECT dst, CAST(count(*) AS BIGINT) AS d0deg
         |  FROM w0 GROUP BY 1),
         |gain AS (SELECT dst, CAST(count(*) AS BIGINT) AS newdeg
         |  FROM later GROUP BY 1),
         |j AS (SELECT ln(CAST(d0deg AS DOUBLE)) AS lx,
         |    ln(CAST(newdeg AS DOUBLE)) AS ly
         |  FROM deg0 JOIN gain USING (dst)
         |  WHERE d0deg > 0 AND newdeg > 0),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    (avg(lx * ly) - avg(lx) * avg(ly)) /
         |      (avg(lx * lx) - avg(lx) * avg(lx)) AS alpha,
         |    (avg(lx * ly) - avg(lx) * avg(ly)) *
         |      (avg(lx * ly) - avg(lx) * avg(ly)) /
         |      ((avg(lx * lx) - avg(lx) * avg(lx)) *
         |        (avg(ly * ly) - avg(ly) * avg(ly))) AS r2
         |  FROM j)
         |SELECT n_items, round(alpha, 6) AS attachment_exponent,
         |  round(r2, 6) AS r2
         |FROM m""".stripMargin,

    "q495_sample_entropy" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |sd AS (SELECT sqrt(avg(y * y) - avg(y) * avg(y)) * 0.2 AS r
        |  FROM daily),
        |tpl AS (SELECT y, lead(y, 1) OVER (ORDER BY d) AS y1,
        |    lead(y, 2) OVER (ORDER BY d) AS y2,
        |    row_number() OVER (ORDER BY d) AS i
        |  FROM daily),
        |t2 AS (SELECT i, y, y1 FROM tpl WHERE y1 IS NOT NULL),
        |t3 AS (SELECT i, y, y1, y2 FROM tpl WHERE y2 IS NOT NULL),
        |bm AS (SELECT CAST(count(*) AS DOUBLE) AS bb
        |  FROM t2 a JOIN t2 b2 ON a.i < b2.i CROSS JOIN sd
        |  WHERE greatest(abs(a.y - b2.y), abs(a.y1 - b2.y1)) <= r),
        |am AS (SELECT CAST(count(*) AS DOUBLE) AS aa
        |  FROM t3 a JOIN t3 b3 ON a.i < b3.i CROSS JOIN sd
        |  WHERE greatest(abs(a.y - b3.y), abs(a.y1 - b3.y1),
        |    abs(a.y2 - b3.y2)) <= r)
        |SELECT round((SELECT r FROM sd), 4) AS tolerance,
        |  CAST(bb AS BIGINT) AS matches_m2,
        |  CAST(aa AS BIGINT) AS matches_m3,
        |  CASE WHEN aa > 0 AND bb > 0
        |    THEN round(-ln(aa / bb), 6) END AS sampen
        |FROM bm CROSS JOIN am""".stripMargin,

    "q496_poisson_changepoint" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |cum AS (SELECT d, CAST(sum(c) OVER (ORDER BY d) AS DOUBLE)
        |      AS s1,
        |    CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS n1
        |  FROM daily),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS ss,
        |    CAST(count(*) AS DOUBLE) AS nn FROM daily),
        |sc AS (SELECT d, s1, n1, ss, nn,
        |    (CASE WHEN s1 > 0 THEN s1 * ln(s1 / n1) ELSE 0.0 END)
        |    + (CASE WHEN ss - s1 > 0
        |      THEN (ss - s1) * ln((ss - s1) / (nn - n1)) ELSE 0.0 END)
        |    - (CASE WHEN ss > 0 THEN ss * ln(ss / nn) ELSE 0.0 END)
        |      AS llr
        |  FROM cum CROSS JOIN tot WHERE n1 < nn),
        |e AS (SELECT * FROM sc ORDER BY llr DESC, d LIMIT 1)
        |SELECT strftime(d, '%Y-%m-%d') AS last_day_before,
        |  round(llr, 6) AS llr, round(s1 / n1, 4) AS rate_before,
        |  round((ss - s1) / (nn - n1), 4) AS rate_after
        |FROM e""".stripMargin,

    "q497_kendall_w" ->
      """WITH br AS (SELECT p.p_brand,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS ords
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |rk AS (SELECT p_brand,
        |    CAST(row_number() OVER (ORDER BY rev DESC, p_brand)
        |      AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY qty DESC, p_brand)
        |      AS BIGINT) AS r2,
        |    CAST(row_number() OVER (ORDER BY ords DESC, p_brand)
        |      AS BIGINT) AS r3
        |  FROM br),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(r1 + r2 + r3 AS DOUBLE) * (r1 + r2 + r3)) AS srs2,
        |    CAST(sum(r1 + r2 + r3) AS DOUBLE) AS srs
        |  FROM rk),
        |ww AS (SELECT n, 12.0 * (srs2 - srs * srs / n) /
        |    (9.0 * (n * n * n - n)) AS w FROM st)
        |SELECT CAST(n AS BIGINT) AS n_brands, round(w, 6) AS kendall_w,
        |  round(3.0 * (n - 1) * w, 4) AS chi2,
        |  CAST(n - 1 AS BIGINT) AS df
        |FROM ww""".stripMargin,

    "q498_taylors_law" ->
      """WITH dd AS (SELECT CAST(count(*) AS DOUBLE) AS dd FROM (
        |    SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)),
        |pd AS (SELECT p.p_brand, CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |br AS (SELECT p_brand, CAST(sum(c) AS DOUBLE) AS tot,
        |    CAST(sum(c * c) AS DOUBLE) AS s2
        |  FROM pd GROUP BY 1),
        |lg AS (SELECT ln(tot / dd) AS lx,
        |    ln(s2 / dd - (tot / dd) * (tot / dd)) AS ly
        |  FROM br CROSS JOIN dd
        |  WHERE tot / dd > 0
        |    AND s2 / dd - (tot / dd) * (tot / dd) > 0),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_brands,
        |    (avg(lx * ly) - avg(lx) * avg(ly)) /
        |      (avg(lx * lx) - avg(lx) * avg(lx)) AS b,
        |    avg(lx) AS mx, avg(ly) AS my,
        |    (avg(lx * ly) - avg(lx) * avg(ly)) *
        |      (avg(lx * ly) - avg(lx) * avg(ly)) /
        |      ((avg(lx * lx) - avg(lx) * avg(lx)) *
        |        (avg(ly * ly) - avg(ly) * avg(ly))) AS r2
        |  FROM lg)
        |SELECT n_brands, round(b, 6) AS taylor_exponent,
        |  round(my - b * mx, 6) AS log_intercept, round(r2, 6) AS r2
        |FROM m""".stripMargin,

    "q499_qte" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_custkey AS ck,
        |    c.c_acctbal > 5000.0 AS tr,
        |    CAST(COALESCE(oc.cnt, 0) AS BIGINT) AS y
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |ng AS (SELECT tr, CAST(count(*) AS BIGINT) AS ng FROM base
        |  GROUP BY 1),
        |rk AS (SELECT b.*, ng.ng,
        |    CAST(row_number() OVER (PARTITION BY b.tr
        |      ORDER BY y, ck) AS BIGINT) AS rk
        |  FROM base b JOIN ng ON b.tr = ng.tr),
        |decs AS (SELECT CAST(dec AS BIGINT) AS dec
        |  FROM range(1, 10) t(dec)),
        |qs AS (SELECT dec,
        |    max(CASE WHEN tr THEN y END) AS q_treated,
        |    max(CASE WHEN NOT tr THEN y END) AS q_control
        |  FROM rk CROSS JOIN decs WHERE rk = (ng * dec) // 10
        |  GROUP BY 1)
        |SELECT dec AS decile, q_treated, q_control,
        |  q_treated - q_control AS qte
        |FROM qs ORDER BY decile""".stripMargin,

    "q500_dataset_manifest" -> {
      def row(name: String, table: String, key: String): String =
        s"SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(sum(${graft.ops.Sampling.keyHashSql(key)}) AS BIGINT) AS key_checksum FROM $table"
      Seq(
        row("region", "region", "r_regionkey"),
        row("nation", "nation", "n_nationkey"),
        row("customer", "customer", "c_custkey"),
        row("supplier", "supplier", "s_suppkey"),
        row("part", "part", "p_partkey"),
        row("orders", "orders", "o_orderkey"),
        row("lineitem", "lineitem", "(l_orderkey * 10 + l_linenumber)"),
        row("events", "events", "event_id"),
        row("documents", "documents", "doc_id"),
        row("embeddings", "embeddings", "vec_id")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "q501_generalization_gap" ->
      s"""WITH featall AS (SELECT
         |    (${graft.ops.Sampling.keyHashSql("doc_id")}) % 100 < 80
         |      AS istr,
         |    1.0 AS f0, CAST(len(text) AS DOUBLE)/100.0 AS f1,
         |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(text) AS DOUBLE) AS f2,
         |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |feat AS (SELECT f0, f1, f2, f3, y FROM featall WHERE istr),
         |w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
         |${(1 to 3).map(lrStepSql).mkString(",\n")},
         |thr AS (SELECT
         |    avg(1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))))
         |      AS thr
         |  FROM feat, w3_ w),
         |sc AS (SELECT istr, y,
         |    1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))) AS p
         |  FROM featall, w3_ w),
         |pr AS (SELECT istr, y, p >= thr AS pred
         |  FROM sc CROSS JOIN thr),
         |ag AS (SELECT
         |    CAST(sum(CASE WHEN istr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_train,
         |    CAST(sum(CASE WHEN NOT istr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_test,
         |    CAST(sum(CASE WHEN istr AND (pred = (y = 1.0))
         |      THEN 1 ELSE 0 END) AS DOUBLE) /
         |      sum(CASE WHEN istr THEN 1 ELSE 0 END) AS acctr,
         |    CAST(sum(CASE WHEN NOT istr AND (pred = (y = 1.0))
         |      THEN 1 ELSE 0 END) AS DOUBLE) /
         |      sum(CASE WHEN NOT istr THEN 1 ELSE 0 END) AS accte
         |  FROM pr)
         |SELECT n_train, n_test, round(acctr, 6) AS acc_train,
         |  round(accte, 6) AS acc_test,
         |  round(acctr - accte, 6) AS gap
         |FROM ag""".stripMargin,

    "q502_percolation_scan" -> {
      val per = (t: Int) =>
        s"""ed$t AS (SELECT a, b FROM wtr WHERE w >= $t),
           |edges$t AS (SELECT a AS s, b AS d FROM ed$t
           |  UNION SELECT b, a FROM ed$t),
           |nodes$t AS (SELECT DISTINCT s AS id FROM edges$t),
           |reach$t(src, dst) AS (
           |  SELECT id, id FROM nodes$t
           |  UNION
           |  SELECT r.src, e.d FROM reach$t r JOIN edges$t e
           |    ON r.dst = e.s),
           |comp$t AS (SELECT src, min(dst) AS cmp FROM reach$t
           |  GROUP BY 1),
           |g$t AS (SELECT COALESCE(max(sz), 0) AS giant,
           |    (SELECT CAST(count(*) AS BIGINT) FROM ed$t) AS ne
           |  FROM (SELECT cmp, count(*) AS sz FROM comp$t
           |        GROUP BY 1))""".stripMargin
      val rows = (1 to 5).map(t =>
        s"SELECT CAST($t AS BIGINT) AS min_weight, ne AS n_edges, " +
          s"CAST(giant AS BIGINT) AS giant_component, " +
          s"round(CAST(giant AS DOUBLE) / (SELECT nn FROM alln), 6) " +
          s"AS giant_share FROM g$t")
        .mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |sq AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM ev),
         |wtr AS (SELECT least(src, item) AS a, greatest(src, item) AS b,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM sq WHERE src IS NOT NULL AND src <> item
         |  GROUP BY 1, 2),
         |alln AS (SELECT CAST(count(DISTINCT n) AS DOUBLE) AS nn FROM (
         |  SELECT a AS n FROM wtr UNION ALL SELECT b FROM wtr)),
         |${(1 to 5).map(per).mkString(",\n")}
         |$rows
         |ORDER BY min_weight""".stripMargin
    },

    "q503_concentration_index" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_custkey AS ck,
        |    CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
        |    CAST(COALESCE(oc.cnt, 0) AS DOUBLE) AS y
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |r AS (SELECT y,
        |    (CAST(row_number() OVER (ORDER BY bal, ck) AS DOUBLE) - 0.5)
        |      / (SELECT count(*) FROM base) AS r
        |  FROM base),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS nn, avg(y) AS muy,
        |    avg(y * r) - avg(y) * avg(r) AS cov
        |  FROM r)
        |SELECT CAST(nn AS BIGINT) AS n_cust,
        |  round(muy, 4) AS mean_orders,
        |  round(2.0 * cov / muy, 6) AS concentration_index
        |FROM m""".stripMargin,

    "q504_anova_effect_sizes" ->
      """WITH y AS (SELECT c_mktsegment AS g,
        |    CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS DOUBLE)
        |      / 100.0 AS y
        |  FROM customer),
        |grp AS (SELECT g, CAST(count(*) AS DOUBLE) AS ng, sum(y) AS sy,
        |    sum(y * y) AS syy
        |  FROM y GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS DOUBLE) AS a, sum(ng) AS nn,
        |    sum(sy) AS ty, sum(syy) AS tyy,
        |    sum(sy * sy / ng) AS ssbraw
        |  FROM grp),
        |c AS (SELECT *, ssbraw - ty * ty / nn AS ssb,
        |    tyy - ty * ty / nn AS sst,
        |    (tyy - ssbraw) / (nn - a) AS msw
        |  FROM ag)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(a AS BIGINT) AS n_groups,
        |  round(ssb / sst, 6) AS eta2,
        |  round((ssb - (a - 1) * msw) / (sst + msw), 6) AS omega2,
        |  round((ssb / (a - 1)) / msw, 4) AS f_stat
        |FROM c""".stripMargin,

    "q505_yuen_test" ->
      """WITH base AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |ng AS (SELECT yr, CAST(count(*) AS BIGINT) AS ng FROM base
        |  GROUP BY 1),
        |rk AS (SELECT b.*, ng.ng, (ng.ng * 2) // 10 AS k,
        |    CAST(row_number() OVER (PARTITION BY b.yr ORDER BY v, ok)
        |      AS BIGINT) AS rk
        |  FROM base b JOIN ng ON b.yr = ng.yr),
        |cuts AS (SELECT yr, max(CASE WHEN rk = k + 1 THEN v END)
        |      AS vlo,
        |    max(CASE WHEN rk = ng - k THEN v END) AS vhi
        |  FROM rk GROUP BY 1),
        |wz AS (SELECT r.*, c.vlo, c.vhi,
        |    CAST(least(greatest(v, vlo), vhi) AS DOUBLE) / 100.0 AS wv,
        |    (rk > k AND rk <= ng - k) AS intrim
        |  FROM rk r JOIN cuts c USING (yr)),
        |g AS (SELECT yr, CAST(min(ng) AS DOUBLE) AS n,
        |    CAST(min(k) AS DOUBLE) AS k,
        |    avg(CASE WHEN intrim THEN CAST(v AS DOUBLE) / 100.0 END)
        |      AS tm,
        |    avg(wv) AS wm, sum(wv * wv) AS wss
        |  FROM wz GROUP BY 1),
        |g2 AS (SELECT *, (wss - n * wm * wm) / (n - 1) AS s2w,
        |    n - k * 2 AS h FROM g),
        |g3 AS (SELECT *, s2w * (n - 1) / (h * (h - 1)) AS dd FROM g2),
        |a AS (SELECT tm AS tm1, dd AS d1, h AS h1 FROM g3
        |  WHERE yr = 1995),
        |b AS (SELECT tm AS tm2, dd AS d2, h AS h2 FROM g3
        |  WHERE yr = 1996)
        |SELECT CAST(h1 AS BIGINT) AS h_1995, CAST(h2 AS BIGINT)
        |    AS h_1996,
        |  round(tm1, 4) AS trimmed_mean_1995,
        |  round(tm2, 4) AS trimmed_mean_1996,
        |  round((tm1 - tm2) / sqrt(d1 + d2), 6) AS yuen_t,
        |  round((d1 + d2) * (d1 + d2) /
        |    (d1 * d1 / (h1 - 1) + d2 * d2 / (h2 - 1)), 2) AS df
        |FROM a CROSS JOIN b""".stripMargin,

    "q506_box_cox" ->
      """WITH y AS (SELECT CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS DOUBLE) / 100.0 AS y
        |  FROM orders),
        |lams(lam) AS (VALUES (-1.0), (-0.5), (0.0), (0.5), (1.0)),
        |tx AS (SELECT lam, y, CASE WHEN lam = 0.0 THEN ln(y)
        |    ELSE (pow(y, lam) - 1.0) / lam END AS t
        |  FROM y CROSS JOIN lams),
        |ll AS (SELECT lam, CAST(count(*) AS DOUBLE) AS n,
        |    avg(t * t) - avg(t) * avg(t) AS v, sum(ln(y)) AS sly
        |  FROM tx GROUP BY 1),
        |l2 AS (SELECT lam, -n / 2.0 * ln(v) + (lam - 1.0) * sly AS ll
        |  FROM ll),
        |best AS (SELECT max(ll) AS mx FROM l2)
        |SELECT lam AS lambda, round(ll, 2) AS log_likelihood,
        |  ll = mx AS is_best
        |FROM l2 CROSS JOIN best ORDER BY lambda""".stripMargin,

    "q507_fleiss_kappa" ->
      s"""${qualityCteSql("")},
         |feats AS (SELECT q.quality AS qq,
         |    CAST(len(d.text) AS DOUBLE) / 100.0 AS fl,
         |    CAST(len(d.text) -
         |      len(regexp_replace(d.text, '[0-9]', '', 'g')) AS DOUBLE)
         |      / CAST(len(d.text) AS DOUBLE) AS fd
         |  FROM q JOIN documents d USING (doc_id)),
         |meds AS (SELECT median(qq) AS mq, median(fl) AS ml,
         |    median(fd) AS md FROM feats),
         |pos AS (SELECT (CASE WHEN qq > mq THEN 1 ELSE 0 END
         |    + CASE WHEN fl > ml THEN 1 ELSE 0 END
         |    + CASE WHEN fd > md THEN 1 ELSE 0 END) AS np
         |  FROM feats CROSS JOIN meds),
         |ag AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    avg(CAST(np * (np - 1) + (3 - np) * (2 - np) AS DOUBLE)
         |      / 6.0) AS pbar,
         |    CAST(sum(np) AS DOUBLE) / (count(*) * 3) AS p1
         |  FROM pos)
         |SELECT CAST(n AS BIGINT) AS n_docs, round(pbar, 6) AS p_bar,
         |  round(p1 * p1 + (1.0 - p1) * (1.0 - p1), 6) AS p_e,
         |  round((pbar - (p1 * p1 + (1.0 - p1) * (1.0 - p1))) /
         |    (1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1))), 6)
         |    AS fleiss_kappa
         |FROM ag""".stripMargin,

    "q508_christoffersen" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r0 AS (SELECT d, ln(rev / lag(rev) OVER (ORDER BY d)) AS r
        |  FROM daily),
        |r AS (SELECT d, r FROM r0 WHERE r IS NOT NULL),
        |st AS (SELECT avg(r) AS mu,
        |    sqrt(avg(r * r) - avg(r) * avg(r)) AS sd FROM r),
        |viol AS (SELECT d, (r < mu - 1.645 * sd) AS i
        |  FROM r CROSS JOIN st),
        |vp AS (SELECT i, lag(i) OVER (ORDER BY d) AS ip FROM viol),
        |vv AS (SELECT * FROM vp WHERE ip IS NOT NULL),
        |cnts AS (SELECT
        |    CAST(sum(CASE WHEN NOT ip AND NOT i THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS n00,
        |    CAST(sum(CASE WHEN NOT ip AND i THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS n01,
        |    CAST(sum(CASE WHEN ip AND NOT i THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS n10,
        |    CAST(sum(CASE WHEN ip AND i THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS n11
        |  FROM vv),
        |p AS (SELECT *, n01 / (n00 + n01) AS p01,
        |    n11 / (n10 + n11) AS p11,
        |    (n01 + n11) / (n00 + n01 + n10 + n11) AS pp
        |  FROM cnts),
        |lr AS (SELECT *,
        |    -2.0 * ((CASE WHEN n00 + n10 > 0
        |        THEN (n00 + n10) * ln(1.0 - pp) ELSE 0.0 END)
        |      + (CASE WHEN n01 + n11 > 0 THEN (n01 + n11) * ln(pp)
        |        ELSE 0.0 END))
        |    + 2.0 * ((CASE WHEN n00 > 0 THEN n00 * ln(1.0 - p01)
        |        ELSE 0.0 END)
        |      + (CASE WHEN n01 > 0 THEN n01 * ln(p01) ELSE 0.0 END)
        |      + (CASE WHEN n10 > 0 THEN n10 * ln(1.0 - p11)
        |        ELSE 0.0 END)
        |      + (CASE WHEN n11 > 0 THEN n11 * ln(p11) ELSE 0.0 END))
        |      AS lr
        |  FROM p)
        |SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
        |  round(p01, 6) AS p_viol_after_calm,
        |  round(p11, 6) AS p_viol_after_viol,
        |  round(lr, 6) AS lr_ind,
        |  lr > 3.841 AS reject_independence
        |FROM lr""".stripMargin,

    "q509_van_elteren" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_nationkey AS nk,
        |    c.c_acctbal > 5000.0 AS tr,
        |    COALESCE(oc.cnt, 0) AS y
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |grid AS (SELECT nk, y,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cc
        |  FROM base GROUP BY 1, 2),
        |g2 AS (SELECT *, ct + cc AS tot FROM grid),
        |mrk AS (SELECT *,
        |    CAST(sum(tot) OVER (PARTITION BY nk ORDER BY y) - tot
        |      AS DOUBLE) + (CAST(tot AS DOUBLE) + 1) / 2 AS mrk
        |  FROM g2),
        |strat AS (SELECT nk, CAST(sum(ct) AS DOUBLE) AS n1,
        |    CAST(sum(cc) AS DOUBLE) AS n2,
        |    sum(CAST(ct AS DOUBLE) * mrk) AS ws,
        |    sum(CAST(tot AS DOUBLE) * tot * tot -
        |      CAST(tot AS DOUBLE)) AS ties
        |  FROM mrk GROUP BY 1),
        |s2 AS (SELECT *, n1 + n2 AS nn FROM strat
        |  WHERE n1 > 0 AND n2 > 0),
        |ve AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    sum(ws / (nn + 1)) AS stat, sum(n1 / 2.0) AS e,
        |    sum(n1 * n2 / (12.0 * (nn + 1)) *
        |      (1.0 - ties / (nn * nn * nn - nn))) AS v
        |  FROM s2),
        |zt AS (SELECT *, (stat - e) / sqrt(v) AS z FROM ve),
        |xt AS (SELECT *, abs(z) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        |  FROM zt)
        |SELECT n_strata, round(stat, 4) AS ve_stat,
        |  round(e, 4) AS expected, round(z, 6) AS z,
        |  round((0.254829592 * tt - 0.284496736 * tt * tt
        |    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt
        |    * tt + 1.061405429 * tt * tt * tt * tt * tt) * exp(-x * x),
        |    6) AS p_two_sided
        |FROM xt""".stripMargin,

    "q510_binwidth_rules" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS DOUBLE)
        |      / 100.0 AS x
        |  FROM customer),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, min(x) AS mn,
        |    max(x) AS mx,
        |    sqrt(avg(x * x) - avg(x) * avg(x)) AS sd
        |  FROM base),
        |r AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, ck) AS BIGINT) AS rk
        |  FROM base),
        |iqr AS (SELECT
        |    max(CASE WHEN rk = (st.n * 3) // 4 THEN x END) AS q3,
        |    max(CASE WHEN rk = st.n // 4 THEN x END) AS q1
        |  FROM r CROSS JOIN st),
        |g AS (SELECT mx - mn AS rng,
        |    2.0 * (q3 - q1) * pow(CAST(n AS DOUBLE), -1.0 / 3) AS fd,
        |    3.49 * sd * pow(CAST(n AS DOUBLE), -1.0 / 3) AS scott,
        |    (mx - mn) / (1.0 + ln(CAST(n AS DOUBLE)) / ln(2.0))
        |      AS sturges
        |  FROM st CROSS JOIN iqr)
        |SELECT rule, bin_width, n_bins FROM (
        |  SELECT 'freedman_diaconis' AS rule, round(fd, 4) AS bin_width,
        |    CAST(ceil(rng / fd) AS BIGINT) AS n_bins FROM g
        |  UNION ALL SELECT 'scott', round(scott, 4),
        |    CAST(ceil(rng / scott) AS BIGINT) FROM g
        |  UNION ALL SELECT 'sturges', round(sturges, 4),
        |    CAST(ceil(rng / sturges) AS BIGINT) FROM g)
        |ORDER BY rule""".stripMargin,

    "q511_hourly_profile" ->
      """WITH hr AS (SELECT hour(ts) AS h, CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(c) AS tc FROM hr),
        |we AS (SELECT h, c, tc, tc / 24.0 AS e FROM hr CROSS JOIN tot),
        |chi AS (SELECT sum((c - e) * (c - e) / e) AS chi2 FROM we),
        |peak AS (SELECT CAST(h AS BIGINT) AS peak_hour,
        |    c / tc AS peak_share
        |  FROM we ORDER BY c DESC, h LIMIT 1),
        |sh AS (SELECT min(tc) AS tc2,
        |    sum(CASE WHEN h BETWEEN 9 AND 17 THEN c ELSE 0.0 END)
        |      AS biz,
        |    sum(CASE WHEN h BETWEEN 0 AND 6 THEN c ELSE 0.0 END)
        |      AS night
        |  FROM we)
        |SELECT round(chi2, 4) AS chi2_uniform,
        |  CAST(23 AS BIGINT) AS df, peak_hour,
        |  round(peak_share, 6) AS peak_share,
        |  round(biz / tc2, 6) AS business_share,
        |  round(night / tc2, 6) AS night_share
        |FROM chi CROSS JOIN peak CROSS JOIN sh""".stripMargin,

    "q512_km_greenwood" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o_orderdate), min(mx.mx)) > 90 AS event
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |byd AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_events
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM byd),
        |cum AS (SELECT *, CAST(sum(c_all) OVER (ORDER BY dur) AS BIGINT)
        |    AS cum_all FROM byd),
        |risk AS (SELECT dur, c_all, d_events,
        |    n_total - (cum_all - c_all) AS n_risk
        |  FROM cum CROSS JOIN tot),
        |ev AS (SELECT dur, n_risk, d_events FROM risk
        |  WHERE d_events > 0 AND n_risk > d_events),
        |km AS (SELECT dur, n_risk, d_events,
        |    exp(sum(ln(CAST(n_risk - d_events AS DOUBLE) /
        |      CAST(n_risk AS DOUBLE))) OVER (ORDER BY dur)) AS surv,
        |    sum(CAST(d_events AS DOUBLE) /
        |      (CAST(n_risk AS DOUBLE) *
        |        CAST(n_risk - d_events AS DOUBLE)))
        |      OVER (ORDER BY dur) AS gsum
        |  FROM ev),
        |g2 AS (SELECT *, surv * sqrt(gsum) AS se FROM km)
        |SELECT dur AS duration_days, n_risk, d_events AS d,
        |  round(surv, 6) AS survival,
        |  round(se, 6) AS greenwood_se,
        |  round(surv - 1.96 * se, 6) AS ci_lo,
        |  round(surv + 1.96 * se, 6) AS ci_hi
        |FROM g2 ORDER BY duration_days""".stripMargin,

    "q513_fisher_index" ->
      """WITH py AS (SELECT l.l_partkey AS pk,
        |    sum(CASE WHEN year(o.o_orderdate) = 1995 THEN l.l_quantity
        |      ELSE 0 END) AS q0,
        |    sum(CASE WHEN year(o.o_orderdate) = 1996 THEN l.l_quantity
        |      ELSE 0 END) AS q1,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1995
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 100.0 AS r0,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1996
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 100.0 AS r1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |pp AS (SELECT q0, q1, r0 / q0 AS p0, r1 / q1 AS p1 FROM py
        |  WHERE q0 > 0 AND q1 > 0),
        |ix AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    sum(p1 * q0) / sum(p0 * q0) AS lasp,
        |    sum(p1 * q1) / sum(p0 * q1) AS paas,
        |    sum(p0 * q1) / sum(p1 * q1) AS laspb,
        |    sum(p0 * q0) / sum(p1 * q0) AS paasb
        |  FROM pp)
        |SELECT n_parts, round(lasp, 6) AS laspeyres,
        |  round(paas, 6) AS paasche,
        |  round(sqrt(lasp * paas), 6) AS fisher,
        |  round(sqrt(lasp * paas) * sqrt(laspb * paasb), 6)
        |    AS reversal_product
        |FROM ix""".stripMargin,

    "q514_pr_auc" ->
      s"""WITH $lrCtes,
         |pts AS (SELECT p,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cpos,
         |    CAST(count(*) AS BIGINT) AS ctot
         |  FROM scored GROUP BY 1),
         |cum AS (SELECT *,
         |    CAST(sum(cpos) OVER (ORDER BY p) AS BIGINT) AS cp,
         |    CAST(sum(ctot) OVER (ORDER BY p) AS BIGINT) AS ct
         |  FROM pts),
         |tot AS (SELECT CAST(sum(cpos) AS DOUBLE) AS npos,
         |    CAST(sum(ctot) AS DOUBLE) AS ntot FROM pts),
         |ap AS (SELECT (CAST(cpos AS DOUBLE) / npos) *
         |    ((npos - CAST(cp - cpos AS DOUBLE)) /
         |      (ntot - CAST(ct - ctot AS DOUBLE))) AS term,
         |    npos, ntot
         |  FROM cum CROSS JOIN tot)
         |SELECT CAST(min(npos) AS BIGINT) AS n_pos,
         |  CAST(min(ntot) - min(npos) AS BIGINT) AS n_neg,
         |  round(sum(term), 6) AS pr_auc,
         |  round(min(npos) / min(ntot), 6) AS baseline_precision
         |FROM ap""".stripMargin,

    "q515_vif" ->
      """WITH feat AS (SELECT
        |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
        |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS f2,
        |    CAST(len(text) -
        |      len(regexp_replace(text, '[aeiou]', '', 'g'))
        |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3
        |  FROM documents),
        |m AS (SELECT
        |    (avg(f1*f2) - avg(f1)*avg(f2)) /
        |      sqrt((avg(f1*f1) - avg(f1)*avg(f1)) *
        |        (avg(f2*f2) - avg(f2)*avg(f2))) AS r12,
        |    (avg(f1*f3) - avg(f1)*avg(f3)) /
        |      sqrt((avg(f1*f1) - avg(f1)*avg(f1)) *
        |        (avg(f3*f3) - avg(f3)*avg(f3))) AS r13,
        |    (avg(f2*f3) - avg(f2)*avg(f3)) /
        |      sqrt((avg(f2*f2) - avg(f2)*avg(f2)) *
        |        (avg(f3*f3) - avg(f3)*avg(f3))) AS r23
        |  FROM feat),
        |rr AS (SELECT
        |    (r12*r12 + r13*r13 - 2.0*r12*r13*r23) / (1.0 - r23*r23)
        |      AS r2_1,
        |    (r12*r12 + r23*r23 - 2.0*r12*r23*r13) / (1.0 - r13*r13)
        |      AS r2_2,
        |    (r13*r13 + r23*r23 - 2.0*r13*r23*r12) / (1.0 - r12*r12)
        |      AS r2_3
        |  FROM m)
        |SELECT feature, r2_on_others, vif FROM (
        |  SELECT 'f_len' AS feature, round(r2_1, 6) AS r2_on_others,
        |    round(1.0 / (1.0 - r2_1), 4) AS vif FROM rr
        |  UNION ALL SELECT 'f_space', round(r2_2, 6),
        |    round(1.0 / (1.0 - r2_2), 4) FROM rr
        |  UNION ALL SELECT 'f_vowel', round(r2_3, 6),
        |    round(1.0 / (1.0 - r2_3), 4) FROM rr)
        |ORDER BY feature""".stripMargin,

    "q516_interaction_reri" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_acctbal > 5000.0 AS a,
        |    c.c_mktsegment = 'BUILDING' AS b,
        |    COALESCE(oc.cnt, 0) >= 3 AS o
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |cells AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS DOUBLE) AS k
        |  FROM base GROUP BY 1, 2),
        |r AS (SELECT a, b, k / n AS risk FROM cells),
        |w AS (SELECT
        |    max(CASE WHEN NOT a AND NOT b THEN risk END) AS r00,
        |    max(CASE WHEN a AND NOT b THEN risk END) AS r10,
        |    max(CASE WHEN NOT a AND b THEN risk END) AS r01,
        |    max(CASE WHEN a AND b THEN risk END) AS r11
        |  FROM r)
        |SELECT round(r00, 6) AS risk_base,
        |  round(r11 / r00, 4) AS rr_both,
        |  round(r10 / r00, 4) AS rr_a_only,
        |  round(r01 / r00, 4) AS rr_b_only,
        |  round(r11 / r00 - r10 / r00 - r01 / r00 + 1.0, 6) AS reri,
        |  round((r11 / r00) / ((r10 / r00) * (r01 / r00)), 6)
        |    AS multiplicative_ratio
        |FROM w""".stripMargin,

    "q517_parallel_trends" ->
      """WITH d1 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND year(o.o_orderdate) = 1995 GROUP BY 1),
        |t1 AS (SELECT CAST(date_diff('day', (SELECT min(d) FROM d1), d)
        |    AS DOUBLE) AS x, y FROM d1),
        |m1 AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(x*y) - avg(x)*avg(y) AS cxy,
        |    avg(x*x) - avg(x)*avg(x) AS cxx,
        |    avg(y*y) - avg(y)*avg(y) AS cyy FROM t1),
        |f1 AS (SELECT n AS n1, cxy / cxx AS b1,
        |    sqrt((cyy - cxy * cxy / cxx) * n / (n - 2) / (n * cxx))
        |      AS se1 FROM m1),
        |d2 AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'MACHINERY'
        |    AND year(o.o_orderdate) = 1995 GROUP BY 1),
        |t2 AS (SELECT CAST(date_diff('day', (SELECT min(d) FROM d2), d)
        |    AS DOUBLE) AS x, y FROM d2),
        |m2 AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(x*y) - avg(x)*avg(y) AS cxy,
        |    avg(x*x) - avg(x)*avg(x) AS cxx,
        |    avg(y*y) - avg(y)*avg(y) AS cyy FROM t2),
        |f2 AS (SELECT n AS n2, cxy / cxx AS b2,
        |    sqrt((cyy - cxy * cxy / cxx) * n / (n - 2) / (n * cxx))
        |      AS se2 FROM m2)
        |SELECT CAST(n1 AS BIGINT) AS n_days_building,
        |  CAST(n2 AS BIGINT) AS n_days_machinery,
        |  round(b1, 4) AS slope_building,
        |  round(b2, 4) AS slope_machinery,
        |  round((b1 - b2) / sqrt(se1 * se1 + se2 * se2), 6) AS z,
        |  abs((b1 - b2) / sqrt(se1 * se1 + se2 * se2)) < 1.96
        |    AS parallel_ok
        |FROM f1 CROSS JOIN f2""".stripMargin,

    "q518_meta_analysis" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_nationkey AS nk,
        |    c.c_acctbal > 5000.0 AS tr,
        |    CAST(COALESCE(oc.cnt, 0) AS DOUBLE) AS y
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |strat0 AS (SELECT nk,
        |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS n2,
        |    avg(CASE WHEN tr THEN y END) AS m1,
        |    avg(CASE WHEN NOT tr THEN y END) AS m2,
        |    sum(CASE WHEN tr THEN y * y ELSE 0.0 END) AS ss1,
        |    sum(CASE WHEN NOT tr THEN y * y ELSE 0.0 END) AS ss2
        |  FROM base GROUP BY 1),
        |strat AS (SELECT *,
        |    (ss1 - n1 * m1 * m1) / (n1 - 1) / n1 +
        |      (ss2 - n2 * m2 * m2) / (n2 - 1) / n2 AS v,
        |    m1 - m2 AS d
        |  FROM strat0 WHERE n1 > 1 AND n2 > 1),
        |s2 AS (SELECT *, 1.0 / v AS w FROM strat WHERE v > 0),
        |fe AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(w) AS sw,
        |    sum(w * w) AS sw2, sum(w * d) / sum(w) AS fee FROM s2),
        |qq AS (SELECT min(fe.k) AS k, min(fe.sw) AS sw,
        |    min(fe.sw2) AS sw2, min(fe.fee) AS fee,
        |    sum(w * (d - fee) * (d - fee)) AS qstat
        |  FROM s2 CROSS JOIN fe),
        |tt AS (SELECT *, greatest(0.0,
        |    (qstat - (k - 1)) / (sw - sw2 / sw)) AS tau2 FROM qq),
        |re AS (SELECT min(tt.k) AS k, min(tt.fee) AS fee,
        |    min(tt.sw) AS sw, min(tt.qstat) AS qstat,
        |    min(tt.tau2) AS tau2,
        |    sum(d / (v + tau2)) / sum(1.0 / (v + tau2)) AS ree
        |  FROM s2 CROSS JOIN tt)
        |SELECT CAST(k AS BIGINT) AS n_studies,
        |  round(fee, 4) AS fixed_effect,
        |  round(1.0 / sqrt(sw), 4) AS fe_se,
        |  round(qstat, 4) AS q_heterogeneity, round(tau2, 6) AS tau2,
        |  round(greatest(0.0, (qstat - (k - 1)) / qstat), 6) AS i2,
        |  round(ree, 4) AS random_effect
        |FROM re""".stripMargin,

    "q519_mmd" ->
      s"""WITH base AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    o_orderkey AS ok,
         |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
         |      AS DOUBLE) / 100.0 AS v,
         |    (${graft.ops.Sampling.keyHashSql("o_orderkey")}) AS h
         |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
         |samp AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY yr ORDER BY h, ok) AS rk
         |  FROM base) WHERE rk <= 400),
         |sd AS (SELECT sqrt(avg(v * v) - avg(v) * avg(v)) AS sigma
         |  FROM samp),
         |xs AS (SELECT ok AS ia, v AS va FROM samp WHERE yr = 1995),
         |ys AS (SELECT ok AS ib, v AS vb FROM samp WHERE yr = 1996),
         |kxx AS (SELECT CAST(count(*) AS DOUBLE) AS nxx,
         |    sum(exp(-(a.va - b.vb) * (a.va - b.vb) /
         |      (2.0 * sigma * sigma))) AS kxx
         |  FROM xs a CROSS JOIN (SELECT ia AS ib, va AS vb FROM xs) b
         |  CROSS JOIN sd WHERE a.ia <> b.ib),
         |kyy AS (SELECT CAST(count(*) AS DOUBLE) AS nyy,
         |    sum(exp(-(a.va - b.vb) * (a.va - b.vb) /
         |      (2.0 * sigma * sigma))) AS kyy
         |  FROM (SELECT ib AS ia, vb AS va FROM ys) a CROSS JOIN ys b
         |  CROSS JOIN sd WHERE a.ia <> b.ib),
         |kxy AS (SELECT CAST(count(*) AS DOUBLE) AS nxy,
         |    sum(exp(-(a.va - b.vb) * (a.va - b.vb) /
         |      (2.0 * sigma * sigma))) AS kxy
         |  FROM xs a CROSS JOIN ys b CROSS JOIN sd)
         |SELECT round((SELECT sigma FROM sd), 4) AS bandwidth_sigma,
         |  round(kxx / nxx + kyy / nyy - 2.0 * kxy / nxy, 8)
         |    AS mmd2_unbiased
         |FROM kxx CROSS JOIN kyy CROSS JOIN kxy""".stripMargin,

    "q520_partial_dependence" ->
      s"""WITH $lrCtes,
         |grid AS (SELECT CAST(g AS DOUBLE) AS g FROM range(1, 11) t(g)),
         |pd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
         |    avg(1.0 / (1.0 + exp(-(w.w0 + w.w1 * g + w.w2 * f2
         |      + w.w3 * f3)))) AS pd
         |  FROM feat CROSS JOIN grid CROSS JOIN w3_ w
         |  GROUP BY 1)
         |SELECT CAST(g * 100 AS BIGINT) AS doc_length_chars, n_docs,
         |  round(pd, 6) AS partial_dependence
         |FROM pd ORDER BY doc_length_chars""".stripMargin,

    "q521_smr" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_mktsegment AS sg, c.c_nationkey AS nk,
        |    COALESCE(oc.cnt, 0) >= 5 AS ev
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |ref AS (SELECT nk,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS rate
        |  FROM base GROUP BY 1),
        |cells AS (SELECT sg, nk, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS DOUBLE) AS o
        |  FROM base GROUP BY 1, 2),
        |smr AS (SELECT sg, sum(o) AS obs, sum(n * rate) AS expd
        |  FROM cells JOIN ref USING (nk) GROUP BY 1)
        |SELECT sg AS segment, CAST(obs AS BIGINT) AS observed,
        |  round(expd, 2) AS expected, round(obs / expd, 4) AS smr,
        |  round(obs * pow(1.0 - 1.0 / (obs * 9)
        |    - 1.96 / (sqrt(obs) * 3), 3.0) / expd, 4) AS ci_lo,
        |  round((obs + 1) * pow(1.0 - 1.0 / ((obs + 1) * 9)
        |    + 1.96 / (sqrt(obs + 1) * 3), 3.0) / expd, 4) AS ci_hi
        |FROM smr ORDER BY segment""".stripMargin,

    "q522_prr_signals" ->
      """WITH li AS (SELECT p.p_brand,
        |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a,
        |    CAST(sum(CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM li),
        |w AS (SELECT p_brand, a, b, ta - a AS c, tb - b AS d
        |  FROM li CROSS JOIN tot),
        |w2 AS (SELECT *, (a / (a + b)) / (c / (c + d)) AS prr,
        |    (a / b) / (c / d) AS ror, a + b + c + d AS nn FROM w),
        |w3 AS (SELECT *, nn * (a * d - b * c) * (a * d - b * c) /
        |    ((a + b) * (c + d) * (a + c) * (b + d)) AS chi2 FROM w2)
        |SELECT p_brand, CAST(a AS BIGINT) AS n_returns,
        |  round(prr, 4) AS prr, round(ror, 4) AS ror,
        |  round(chi2, 4) AS chi2,
        |  (prr >= 2.0 AND a >= 3 AND chi2 >= 4.0) AS signal
        |FROM w3 ORDER BY round(prr, 4) DESC, p_brand LIMIT 10"""
        .stripMargin,

    "q523_chao1" ->
      s"""WITH cnt AS (SELECT tok, count(*) AS c FROM (
         |    SELECT unnest($ntoksSql) AS tok FROM documents)
         |  GROUP BY 1),
         |ag AS (SELECT CAST(count(*) AS DOUBLE) AS sobs,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS f1,
         |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS f2
         |  FROM cnt)
         |SELECT CAST(sobs AS BIGINT) AS s_observed,
         |  CAST(f1 AS BIGINT) AS singletons,
         |  CAST(f2 AS BIGINT) AS doubletons,
         |  round(sobs + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 2) AS chao1,
         |  round(sobs / (sobs + f1 * (f1 - 1) / (2.0 * (f2 + 1))), 6)
         |    AS coverage_ratio
         |FROM ag""".stripMargin,

    "q524_good_turing" ->
      s"""WITH cnt AS (SELECT tok, count(*) AS c FROM (
         |    SELECT unnest($ntoksSql) AS tok FROM documents)
         |  GROUP BY 1),
         |coc AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS nr
         |  FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS ntok,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS n1
         |  FROM cnt),
         |grid AS (SELECT CAST(g AS BIGINT) AS r FROM range(1, 6) t(g)),
         |rows_ AS (SELECT g.r, COALESCE(c1.nr, 0) AS n_r,
         |    COALESCE(c2.nr, 0) AS n_r_plus1
         |  FROM grid g LEFT JOIN coc c1 ON g.r = c1.r
         |  LEFT JOIN coc c2 ON g.r + 1 = c2.r)
         |SELECT r, n_r, n_r_plus1,
         |  CASE WHEN n_r > 0 THEN round(CAST(r + 1 AS DOUBLE)
         |    * n_r_plus1 / n_r, 4) END AS adjusted_count,
         |  round((SELECT n1 FROM tot) / (SELECT ntok FROM tot), 6)
         |    AS p_unseen
         |FROM rows_ ORDER BY r""".stripMargin,

    "q525_katz" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pAggs = (for { i <- types; j <- types } yield
        s"COALESCE(max(CASE WHEN src = '$i' AND dst = '$j' THEN p END), 0.0) AS p_${i}_$j")
        .mkString(",\n    ")
      val pCols = (for { i <- types; j <- types } yield s"p_${i}_$j")
        .mkString(", ")
      val steps = (1 to 15).map { t =>
        val xs = types.map { i =>
          val terms = types.map(j => s"p_${j}_$i * x_$j")
            .mkString(" + ")
          s"1.0 + 0.5 * ($terms) AS x_$i"
        }.mkString(",\n    ")
        s"""k${t}_ AS (SELECT $pCols,
           |    $xs
           |  FROM k${t - 1}_)""".stripMargin
      }.mkString(",\n")
      val sumX = types.map(i => s"x_$i").mkString(" + ")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT src, sum(c) AS rt FROM tr GROUP BY 1),
         |p AS (SELECT t.src, t.dst, t.c / r.rt AS p
         |  FROM tr t JOIN rt r USING (src)),
         |w AS (SELECT
         |    $pAggs
         |  FROM p),
         |k0_ AS (SELECT *, ${types.map(i => s"1.0 AS x_$i")
        .mkString(", ")} FROM w),
         |$steps
         |SELECT event_type, katz, share FROM (
         |  ${types.map(i =>
        s"SELECT '$i' AS event_type, round(x_$i, 4) AS katz, round(x_$i / ($sumX), 6) AS share FROM k15_")
        .mkString("\n  UNION ALL\n  ")})
         |ORDER BY event_type""".stripMargin
    }

  )
}
