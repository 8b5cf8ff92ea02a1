package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF}
import graft.llm.Dedup
import graft.EntryShared._

/** Statistics gallery IV — dispersion/fit diagnostics, KPI rollups, calendar envelopes: q526-q600.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesStats4 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q526_ou_halflife" -> ((s, dir) => {
      // Ornstein-Uhlenbeck calibration of daily log revenue: AR(1)
      // coefficient φ by OLS of x_t on x_{t-1}, mean-reversion speed
      // θ = −ln(φ) and half-life ln(2)/θ — how long a revenue shock
      // persists (the scalar behind q175's full ACF). Consecutive pairs
      // from the calendar-bounded series.
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(log(sum(expr(
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .cast("double"))).as("x"))
      val w = Window.orderBy(col("d"))
      val pairs = daily.withColumn("xp", lag(col("x"), 1).over(w))
        .filter(col("xp").isNotNull)
      val m = pairs.agg(count(lit(1)).as("n"), avg(col("x")).as("my"),
        avg(col("xp")).as("mx"),
        (avg(col("xp") * col("x")) - avg(col("xp")) * avg(col("x")))
          .as("cxy"),
        (avg(col("xp") * col("xp")) - avg(col("xp")) * avg(col("xp")))
          .as("cxx"))
      val phi = col("cxy") / col("cxx")
      val theta = -log(phi)
      // phi <= 0 (anti-persistent series) has no OU representation —
      // the log-derived outputs go NULL on both engines, lazily so the
      // negative never reaches ln()
      m.select(col("n").as("n_days"), round(phi, 6).as("phi"),
        when(phi > 0, round(theta, 6)).as("theta_per_day"),
        when(phi > 0, round(lit(math.log(2.0)) / theta, 2))
          .as("halflife_days"),
        round((col("my") - phi * col("mx")) / (lit(1.0) - phi), 4)
          .as("long_run_mean_log"))
    }),

    "q527_platt_scaling" -> ((s, dir) => {
      // Platt scaling of the q138 classifier: a one-feature logistic
      // refit on the RAW linear score (same GD fold, 3 epochs), Brier
      // score before and after — the parametric calibration next to
      // q144's binned reliability. The scored frame is the only
      // data-sized input.
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"), lit(1.0).as("g0"), z.as("g1"))
      val pw = graft.ops.LinearModel.logisticGd(scored, Seq("g0", "g1"),
        "y", lr = 0.5, nIter = 3)
      val raw = lit(1.0) / (lit(1.0) + exp(-col("g1")))
      val platt = lit(1.0) /
        (lit(1.0) + exp(-(lit(pw(0)) + lit(pw(1)) * col("g1"))))
      scored.agg(count(lit(1)).as("n_docs"),
          avg((raw - col("y")) * (raw - col("y"))).as("brierRaw"),
          avg((platt - col("y")) * (platt - col("y"))).as("brierPlatt"))
        .select(col("n_docs"), round(lit(pw(0)), 6).as("platt_a"),
          round(lit(pw(1)), 6).as("platt_b"),
          round(col("brierRaw"), 6).as("brier_raw"),
          round(col("brierPlatt"), 6).as("brier_platt"))
    }),

    "q528_rank_turbulence" -> ((s, dir) => {
      // rank-turbulence divergence (α=1) between the src0 and src1
      // vocabularies over their COMMON tokens: per-token |1/r₁ − 1/r₂|
      // with exact frequency ranks, top 8 divergence drivers — the
      // rank-based vocab comparison next to q173's frequency drift.
      // Token rollups collapse map-side; ranks are per-source windows
      // over the bounded vocab.
      val toks = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TF.normTokens(col("text")))
          .as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val wR = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("tok"))
      val ranked = toks.withColumn("r", row_number().over(wR)
        .cast("double"))
      val a = ranked.filter(col("source") === "src0")
        .select(col("tok"), col("r").as("r1"))
      val b = ranked.filter(col("source") === "src1")
        .select(col("tok"), col("r").as("r2"))
      a.join(b, Seq("tok"))
        .select(col("tok"), col("r1").cast("long").as("rank_src0"),
          col("r2").cast("long").as("rank_src1"),
          round(abs(lit(1.0) / col("r1") - lit(1.0) / col("r2")), 6)
            .as("contribution"))
        .orderBy(col("contribution").desc, col("tok"))
        .limit(8)
    }),

    "q529_extremal_index" -> ((s, dir) => {
      // extremal index by the runs method (run length 2) on daily
      // revenue log-returns over the exact 95th-percentile threshold:
      // θ ≈ #clusters/#exceedances — do extremes arrive alone (θ≈1) or
      // in bursts? The clustering half of the q386 POT story. One rank
      // for the threshold, one lag over the exceedance positions.
      val daily = dailyOrderRevenue(s, dir)
      val w = Window.orderBy(col("d"))
      val r = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("d"), log(col("rev") / col("prev")).as("r"))
        .withColumn("idx", row_number().over(Window.orderBy(col("d")))
          .cast("long"))
      val n = r.agg(count(lit(1)).as("n"))
      val ranked = graft.ops.PrefixSum.globalRank(
          r, Seq(col("r"), col("d")), "rk")
        .crossJoin(broadcast(n))
      val u = ranked.filter(col("rk") === expr("(n * 95) div 100"))
        .select(col("r").as("u"))
      val exc = r.crossJoin(broadcast(u)).filter(col("r") > col("u"))
        .withColumn("pidx",
          lag(col("idx"), 1).over(Window.orderBy(col("idx"))))
        .withColumn("isStart",
          col("pidx").isNull || col("idx") - col("pidx") > 2)
      exc.agg(first(col("u")).as("u"),
          count(lit(1)).as("n_exceed"),
          sum(when(col("isStart"), 1L).otherwise(0L)).as("n_clusters"))
        .crossJoin(broadcast(n))
        .select(col("n").as("n_obs"), round(col("u"), 6).as("threshold"),
          col("n_exceed"), col("n_clusters"),
          round(col("n_clusters").cast("double") / col("n_exceed"), 4)
            .as("extremal_index"))
    }),

    "q530_quantile_elbow" -> ((s, dir) => {
      // elbow curve for balance clustering: within-cluster sum of
      // squares under EQUAL-FREQUENCY (quantile) partitions for k =
      // 2..6, with the marginal-improvement ratio — the cluster-count
      // screen ahead of q367/q368's quality scores (quantile seeding is
      // the deterministic 1-D stand-in for Lloyd iterations,
      // documented). One global rank, one aggregate per k.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"),
          (expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("x"))
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("x"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      val ks = s.range(2, 7).select(col("id").as("k"))
      val wcss = ranked.crossJoin(broadcast(ks))
        .withColumn("cl", expr("((rk - 1) * k) div n"))
        .groupBy(col("k"), col("cl"))
        .agg(count(lit(1)).cast("double").as("nc"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .select(col("k"),
          (col("sxx") - col("sx") * col("sx") / col("nc")).as("ss"))
        .groupBy(col("k")).agg(sum(col("ss")).as("wcss"))
      val wLag = Window.orderBy(col("k"))
      wcss
        .withColumn("prev", lag(col("wcss"), 1).over(wLag))
        .select(col("k"), round(col("wcss"), 2).as("wcss"),
          when(col("prev").isNotNull,
            round(lit(1.0) - col("wcss") / col("prev"), 4))
            .as("improvement"))
        .orderBy(col("k"))
    }),

    "q531_cobb_douglas" -> ((s, dir) => {
      // Cobb-Douglas production fit: ln(daily revenue) on ln(active
      // customers) and ln(orders per customer) — output elasticities via
      // the closed TWO-predictor OLS (centered 2×2 Cramer solve), the
      // first multi-regressor fit in the gallery. One daily rollup, one
      // moment aggregate.
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("revc"),
          countDistinct(col("o_custkey")).cast("double").as("nc"),
          count(lit(1)).cast("double").as("no"))
        .select(log(col("revc") / 100.0).as("y"), log(col("nc")).as("x1"),
          log(col("no") / col("nc")).as("x2"))
      val m = daily.agg(count(lit(1)).as("n"),
        avg(col("y")).as("my"), avg(col("x1")).as("m1"),
        avg(col("x2")).as("m2"),
        (avg(col("x1") * col("x1")) - avg(col("x1")) * avg(col("x1")))
          .as("s11"),
        (avg(col("x2") * col("x2")) - avg(col("x2")) * avg(col("x2")))
          .as("s22"),
        (avg(col("x1") * col("x2")) - avg(col("x1")) * avg(col("x2")))
          .as("s12"),
        (avg(col("x1") * col("y")) - avg(col("x1")) * avg(col("y")))
          .as("s1y"),
        (avg(col("x2") * col("y")) - avg(col("x2")) * avg(col("y")))
          .as("s2y"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("syy"))
      val det = col("s11") * col("s22") - col("s12") * col("s12")
      val b1 = (col("s22") * col("s1y") - col("s12") * col("s2y")) / det
      val b2 = (col("s11") * col("s2y") - col("s12") * col("s1y")) / det
      m.select(col("n").as("n_days"),
        round(b1, 4).as("elasticity_customers"),
        round(b2, 4).as("elasticity_orders_per_customer"),
        round(col("my") - b1 * col("m1") - b2 * col("m2"), 4)
          .as("intercept"),
        round((b1 * col("s1y") + b2 * col("s2y")) / col("syy"), 6)
          .as("r2"))
    }),

    "q532_setar" -> ((s, dir) => {
      // SETAR threshold autoregression on daily log revenue: separate
      // AR(1) fits for regimes split by the LAGGED value's median, with
      // the regime-difference F — the nonlinear companion to q373's
      // time-split Chow (same machinery, threshold on state instead of
      // calendar). Calendar-bounded lags, two conditional OLS passes.
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(log(sum(expr(
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .cast("double"))).as("x"))
      val w = Window.orderBy(col("d"))
      val pairs = daily.withColumn("xp", lag(col("x"), 1).over(w))
        .filter(col("xp").isNotNull)
        .select(col("x"), col("xp"))
      val med = pairs.agg(expr("percentile(xp, 0.5)").as("med"))
      val reg = pairs.crossJoin(broadcast(med))
        .withColumn("hi", col("xp") > col("med"))
      def fitSse(df: DataFrame) = df
        .agg(count(lit(1)).cast("double").as("n"),
          (avg(col("xp") * col("x")) - avg(col("xp")) * avg(col("x")))
            .as("cxy"),
          (avg(col("xp") * col("xp")) - avg(col("xp")) * avg(col("xp")))
            .as("cxx"),
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
            .as("cyy"))
        .select(col("n"), (col("cxy") / col("cxx")).as("phi"),
          (col("n") * (col("cyy") - col("cxy") * col("cxy") /
            col("cxx"))).as("sse"))
      val lo = fitSse(reg.filter(!col("hi")))
        .select(col("n").as("nl"), col("phi").as("phiL"),
          col("sse").as("sseL"))
      val hi = fitSse(reg.filter(col("hi")))
        .select(col("n").as("nh"), col("phi").as("phiH"),
          col("sse").as("sseH"))
      val pooled = fitSse(reg).select(col("sse").as("sseP"))
      lo.crossJoin(broadcast(hi)).crossJoin(broadcast(pooled))
        .select(col("nl").cast("long").as("n_low"),
          col("nh").cast("long").as("n_high"),
          round(col("phiL"), 4).as("phi_low"),
          round(col("phiH"), 4).as("phi_high"),
          round(((col("sseP") - col("sseL") - col("sseH")) / 2) /
            ((col("sseL") + col("sseH")) /
              (col("nl") + col("nh") - 4)), 4).as("f_stat"))
    }),

    "q533_exponential_survival" -> ((s, dir) => {
      // exponential survival MLE with right censoring on the q177 churn
      // fixture: λ = events / total exposure (the censored-data rate THE
      // parametric baseline every KM curve is compared against), mean
      // lifetime 1/λ, S(h) at the 30/60/90 horizons — read next to
      // q476's stratified KM and q394's Weibull shape. One aggregate.
      val cust = survivalCohort(s, dir)
      val m = cust.agg(count(lit(1)).as("n"),
        sum(when(col("event"), 1L).otherwise(0L)).cast("double")
          .as("d"),
        sum(col("dur")).cast("double").as("expo"))
      val lam = col("d") / col("expo")
      m.select(col("n").as("n_customers"),
        col("d").cast("long").as("n_events"),
        round(lam * 1000, 6).as("lambda_per_1000_days"),
        round(lit(1.0) / lam, 2).as("mean_lifetime_days"),
        round(exp(-lam * 30), 6).as("s30"),
        round(exp(-lam * 60), 6).as("s60"),
        round(exp(-lam * 90), 6).as("s90"))
    }),

    "q534_oc_curve" -> ((s, dir) => {
      // operating-characteristic curve of the n=50/c=2 acceptance-
      // sampling plan: P(accept) over the 1..10% defect grid with the
      // corpus's observed return rate alongside — which lots this plan
      // actually passes (the QA companion to q490's Dorfman pooling).
      // Closed-form binomial tail, one rate aggregate.
      val obs = t(s, dir, "lineitem")
        .agg((sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("obsRate"))
      val grid = s.range(1, 11)
        .select(col("id").as("g"),
          (col("id").cast("double") / 100.0).as("p"))
      val q = lit(1.0) - col("p")
      val pa = pow(q, 50.0) + lit(50.0) * col("p") * pow(q, 49.0) +
        lit(1225.0) * col("p") * col("p") * pow(q, 48.0)
      grid.crossJoin(broadcast(obs))
        .select(col("g").as("defect_pct"),
          round(pa, 6).as("p_accept"),
          round(col("obsRate"), 6).as("observed_defect_rate"))
        .orderBy(col("defect_pct"))
    }),

    "q535_winsorized_corr" -> ((s, dir) => {
      // winsorized correlation (5%/95% exact-rank clamps on BOTH
      // variables) of line price vs quantity next to the raw Pearson —
      // the robust dependence read q167's matrix doesn't give. Two
      // global ranks for the cutoffs, then one moment aggregate over
      // the clamped pairs.
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          (expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("x"),
          col("l_quantity").cast("double").as("y"))
      val n = base.agg(count(lit(1)).as("n"))
      val rx = graft.ops.PrefixSum.globalRank(
          base, Seq(col("x"), col("ok"), col("ln")), "rkx")
        .crossJoin(broadcast(n))
      val cutsX = rx.agg(
        max(when(col("rkx") === expr("(n * 5) div 100"), col("x")))
          .as("xlo"),
        max(when(col("rkx") === expr("(n * 95) div 100"), col("x")))
          .as("xhi"))
      val ry = graft.ops.PrefixSum.globalRank(
          base, Seq(col("y"), col("ok"), col("ln")), "rky")
        .crossJoin(broadcast(n))
      val cutsY = ry.agg(
        max(when(col("rky") === expr("(n * 5) div 100"), col("y")))
          .as("ylo"),
        max(when(col("rky") === expr("(n * 95) div 100"), col("y")))
          .as("yhi"))
      val wz = base.crossJoin(broadcast(cutsX))
        .crossJoin(broadcast(cutsY))
        .select(col("x"), col("y"),
          least(greatest(col("x"), col("xlo")), col("xhi")).as("wx"),
          least(greatest(col("y"), col("ylo")), col("yhi")).as("wy"))
      def corr2(a: Column, b: Column) =
        (avg(a * b) - avg(a) * avg(b)) /
          sqrt((avg(a * a) - avg(a) * avg(a)) *
            (avg(b * b) - avg(b) * avg(b)))
      wz.agg(count(lit(1)).as("n_rows"),
          corr2(col("x"), col("y")).as("raw"),
          corr2(col("wx"), col("wy")).as("wins"))
        .select(col("n_rows"), round(col("raw"), 6).as("corr_raw"),
          round(col("wins"), 6).as("corr_winsorized"))
    }),

    "q536_beta_diversity" -> ((s, dir) => {
      // Whittaker beta diversity of the source vocabularies: γ (corpus
      // distinct tokens) over mean α (per-source distinct) minus 1 —
      // how much vocabulary TURNS OVER between sources (q158 measures
      // pairwise overlap; this is the multi-site scalar). Two distinct
      // counts, map-side collapsed.
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TF.normTokens(col("text")))
          .as("tok"))
      val alpha = toks.select(col("source"), col("tok")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("a"))
        .agg(count(lit(1)).as("n_sources"),
          avg(col("a").cast("double")).as("alphaMean"))
      val gamma = toks.select(col("tok")).distinct()
        .agg(count(lit(1)).cast("double").as("gamma"))
      alpha.crossJoin(broadcast(gamma))
        .select(col("n_sources"), col("gamma").cast("long")
            .as("gamma_tokens"),
          round(col("alphaMean"), 2).as("alpha_mean"),
          round(col("gamma") / col("alphaMean") - 1.0, 6)
            .as("whittaker_beta"))
    }),

    "q537_dunn_index" -> ((s, dir) => {
      // Dunn validity index for the 5 equal-frequency balance clusters:
      // min inter-cluster gap over max intra-cluster width, both EXACT
      // in 1-D from per-cluster extremes — the separation/compactness
      // scalar joining q367 (silhouette) and q368 (Davies-Bouldin) on
      // the same clustering question. One rank, one bounded pass.
      val base = customerBalanceCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("cl", expr("((rk - 1) * 5) div n"))
      val ext = ranked.groupBy(col("cl"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val w = Window.orderBy(col("cl"))
      val gaps = ext
        .withColumn("prevMx", lag(col("mx"), 1).over(w))
        .withColumn("gap", col("mn") - col("prevMx"))
      gaps.agg(count(lit(1)).as("n_clusters"),
          min(col("gap")).as("minGap"),
          max(col("mx") - col("mn")).as("maxWidth"))
        .select(col("n_clusters"),
          round(col("minGap").cast("double") / 100.0, 2).as("min_gap"),
          round(col("maxWidth").cast("double") / 100.0, 2)
            .as("max_width"),
          round(col("minGap").cast("double") / col("maxWidth"), 6)
            .as("dunn_index"))
    }),

    "q538_c_chart" -> ((s, dir) => {
      // c-chart on daily error counts: c̄ ± 3√c̄ limits with
      // out-of-control day counts — the count-data control chart next
      // to q310's Shewhart and q422's EWMA. One daily rollup + one
      // aggregate.
      val daily = events(s, dir)
        .filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val st = daily.agg(count(lit(1)).as("n_days"),
        avg(col("c")).as("cbar"))
      val ucl = col("cbar") + lit(3.0) * sqrt(col("cbar"))
      val lcl = greatest(lit(0.0), col("cbar") - lit(3.0) *
        sqrt(col("cbar")))
      val flags = daily.crossJoin(broadcast(st))
        .agg(first(col("n_days")).as("n_days"),
          first(col("cbar")).as("cbar"),
          sum(when(col("c") > ucl, 1L).otherwise(0L)).as("nAbove"),
          sum(when(col("c") < lcl, 1L).otherwise(0L)).as("nBelow"))
      flags.select(col("n_days"), round(col("cbar"), 4).as("c_bar"),
        round(ucl, 4).as("ucl"), round(lcl, 4).as("lcl"),
        col("nAbove").as("n_above_ucl"), col("nBelow").as("n_below_lcl"))
    }),

    "q539_lof_grid" -> ((s, dir) => {
      // grid-blocked local-outlier-factor (simplified): per-point
      // eps-ball density from the q425 cell expansion, LOF ratio = mean
      // neighbor density / own density, top 10 — density-based spatial
      // outliers where the global q135 MAD rule is blind. Candidate
      // pairs ship id-only; points with no eps-neighbor are excluded
      // (documented).
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
      val pairs = base.as("a").join(expd.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
            col("a.sk") =!= col("b.sk") &&
            (col("a.x") - col("b.x")) * (col("a.x") - col("b.x")) +
              (col("a.y") - col("b.y")) * (col("a.y") - col("b.y"))
              <= lit(eps * eps))
        .select(col("a.sk").as("pa"), col("b.sk").as("pb"))
        .materialize
      val dens = pairs.groupBy(col("pa").as("sk"))
        .agg(count(lit(1)).cast("double").as("dens"))
      val lof = pairs
        .join(dens.select(col("sk").as("pb"), col("dens").as("nd")),
          Seq("pb"))
        .groupBy(col("pa").as("sk"))
        .agg(avg(col("nd")).as("avgNbrDens"))
        .join(dens, Seq("sk"))
        .select(col("sk"), col("dens").cast("long").as("density"),
          round(col("avgNbrDens"), 4).as("avg_neighbor_density"),
          round(col("avgNbrDens") / col("dens"), 6).as("lof_ratio"))
      val out = lof
        .orderBy(col("lof_ratio").desc, col("sk"))
        .limit(10)
      out
    }),

    "q540_mincer_zarnowitz" -> ((s, dir) => {
      // Mincer-Zarnowitz rationality regression of the expanding-mean
      // forecast (q459's protocol): actual on forecast, joint test of
      // (a, b) = (0, 1) via the restricted-vs-unrestricted F — is the
      // naive forecaster systematically biased? Calendar-bounded
      // exclusive window + two closed-form passes.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val fc = daily.withColumn("f", avg(col("y")).over(w))
        .filter(col("f").isNotNull)
        .select(col("f"), col("y"))
      val m = fc.agg(count(lit(1)).cast("double").as("n"),
        avg(col("f")).as("mf"), avg(col("y")).as("my"),
        (avg(col("f") * col("y")) - avg(col("f")) * avg(col("y")))
          .as("cfy"),
        (avg(col("f") * col("f")) - avg(col("f")) * avg(col("f")))
          .as("cff"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("cyy"),
        sum((col("y") - col("f")) * (col("y") - col("f"))).as("rssR"))
      val b = col("cfy") / col("cff")
      val a = col("my") - b * col("mf")
      val rssU = col("n") * (col("cyy") - col("cfy") * col("cfy") /
        col("cff"))
      val f = ((col("rssR") - rssU) / 2) / (rssU / (col("n") - 2))
      m.select(col("n").cast("long").as("n_days"),
        round(a, 4).as("intercept"), round(b, 4).as("slope"),
        round(f, 4).as("f_stat"),
        (f < 3.35).as("rational_at_5pct"))
    }),

    "q541_growth_incidence" -> ((s, dir) => {
      // growth-incidence curve: per-decile mean customer spend in 1995
      // vs 1996 (deciles WITHIN each year by exact rank) and the decile
      // growth rate — was growth pro-poor or top-heavy (Ravallion's
      // distributional growth read on top of q409's Lorenz)? Exact cent
      // sums per decile, one rank per year.
      val spend = customerYearCents(s, dir)
      val wY = Window.partitionBy(col("yr"))
        .orderBy(col("cents"), col("o_custkey"))
      val ranked = spend.withColumn("rk", row_number().over(wY)
          .cast("long"))
        .join(spend.groupBy(col("yr")).agg(count(lit(1)).as("ny")),
          Seq("yr"))
        .withColumn("dec", expr("((rk - 1) * 10) div ny"))
      val byDec = ranked.groupBy(col("yr"), col("dec"))
        .agg(sum(col("cents")).as("c"), count(lit(1)).as("nc"))
        .withColumn("m", col("c").cast("double") / col("nc") / 100.0)
      val a = byDec.filter(col("yr") === 1995)
        .select(col("dec"), col("m").as("m95"))
      val b = byDec.filter(col("yr") === 1996)
        .select(col("dec"), col("m").as("m96"))
      a.join(b, Seq("dec"))
        .select(col("dec").as("decile"), round(col("m95"), 2)
            .as("mean_spend_1995"),
          round(col("m96"), 2).as("mean_spend_1996"),
          round(col("m96") / col("m95") - 1.0, 6).as("growth"))
        .orderBy(col("decile"))
    }),

    "q542_score_ks" -> ((s, dir) => {
      // credit-scoring KS statistic of the q138 classifier: max gap
      // between the positive and negative score CDFs, and the score
      // where it happens — the separation scalar risk teams quote
      // alongside q169's AUC. One multi-column prefix-sum pass over the
      // distinct-score grid, argmax on the ROUNDED gap.
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val pts = scored.groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("cpos"),
          sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("cneg"))
        .withColumn("__g", lit(1))
      val cum = graft.ops.PrefixSum.groupedRunningSums(
        pts, "__g", "p", Seq((col("cpos"), "cp"), (col("cneg"), "cn")))
      val tot = pts.agg(sum(col("cpos")).cast("double").as("np"),
        sum(col("cneg")).cast("double").as("nn"))
      val gaps = cum.crossJoin(broadcast(tot))
        .select(col("p"), col("np"), col("nn"),
          round(abs(col("cp").cast("double") / col("np") -
            col("cn").cast("double") / col("nn")), 6).as("gap"))
      gaps.orderBy(col("gap").desc, col("p")).limit(1)
        .select(col("np").cast("long").as("n_pos"),
          col("nn").cast("long").as("n_neg"),
          round(col("p"), 6).as("at_score"), col("gap").as("ks_stat"))
    }),

    "q543_sign_test" -> ((s, dir) => {
      // sign test on paired per-customer spend (1995 vs 1996, zeros
      // dropped): the assumption-free companion to q472's signed-rank —
      // only the SIGN of each change matters. One pair rollup, one
      // aggregate, continuity-corrected normal z with the A&S p.
      val spend = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) === 1995,
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("s95"),
          sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("s96"))
        .filter(col("s95") > 0 && col("s96") > 0 &&
          col("s96") =!= col("s95"))
      val m = spend.agg(count(lit(1)).cast("double").as("n"),
        sum(when(col("s96") > col("s95"), 1L).otherwise(0L))
          .cast("double").as("npos"))
      val z = (abs(col("npos") * 2 - col("n")) - 1) / sqrt(col("n"))
      val x = z / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      m.select(col("n").cast("long").as("n_pairs"),
        col("npos").cast("long").as("n_increased"),
        (col("n") - col("npos")).cast("long").as("n_decreased"),
        round(z, 6).as("z"),
        round((lit(0.254829592) * tt - lit(0.284496736) * tt * tt +
          lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt)
          * exp(-x * x), 6).as("p_two_sided"))
    }),

    "q544_delta_lognormal" -> ((s, dir) => {
      // delta-lognormal mean of per-customer spend INCLUDING the
      // never-ordered zeros: p(nonzero)·exp(μ + σ²/2) vs the plain
      // mean — the zero-inflated estimator fisheries/claims data uses
      // when the positive part is log-normal. One left join + two
      // moment aggregates.
      val oc = customerOrderCents(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cents"), lit(0L)).as("cents"))
      val m = base.agg(count(lit(1)).cast("double").as("n"),
        sum(when(col("cents") > 0, 1L).otherwise(0L)).cast("double")
          .as("nz"),
        avg(col("cents").cast("double") / 100.0).as("plain"),
        avg(when(col("cents") > 0,
          log(col("cents").cast("double") / 100.0))).as("mu"),
        avg(when(col("cents") > 0,
          log(col("cents").cast("double") / 100.0) *
            log(col("cents").cast("double") / 100.0))).as("m2"))
      val s2 = col("m2") - col("mu") * col("mu")
      m.select(col("n").cast("long").as("n_customers"),
        round(col("nz") / col("n"), 6).as("p_nonzero"),
        round(col("mu"), 4).as("mu_log"),
        round(s2, 4).as("sigma2_log"),
        round(col("nz") / col("n") * exp(col("mu") + s2 / 2), 2)
          .as("delta_lognormal_mean"),
        round(col("plain"), 2).as("plain_mean"))
    }),

    "q545_diversification_ratio" -> ((s, dir) => {
      // diversification ratio of the equal-weight five-segment revenue
      // "portfolio": mean single-segment volatility over the portfolio
      // volatility — how much the segment mix actually hedges (q466
      // optimizes two assets; this scores the naive 5-way mix). One
      // 5-way date join, volatilities from one wide aggregate.
      val types = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")
      val daily = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(types.map(sg => sum(when(col("c_mktsegment") === sg,
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).cast("double").as(s"r_$sg")).head,
          types.tail.map(sg => sum(when(col("c_mktsegment") === sg,
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).cast("double").as(s"r_$sg")): _*)
        .filter(types.map(sg => col(s"r_$sg") > 0).reduce(_ && _))
      val w = Window.orderBy(col("d"))
      val rets = daily.select(Seq(col("d")) ++ types.map(sg =>
        (log(col(s"r_$sg")) - log(lag(col(s"r_$sg"), 1).over(w)))
          .as(s"x_$sg")): _*)
        .filter(col(s"x_${types.head}").isNotNull)
        .withColumn("xp", types.map(sg => col(s"x_$sg"))
          .reduce(_ + _) / 5.0)
      def pvar(c: Column) = avg(c * c) - avg(c) * avg(c)
      val sAggs = types.map(sg =>
        sqrt(pvar(col(s"x_$sg"))).as(s"s_$sg")) :+
        sqrt(pvar(col("xp"))).as("sp")
      val m = rets.agg(count(lit(1)).as("n"), sAggs: _*)
      val avgVol = types.map(sg => col(s"s_$sg")).reduce(_ + _) / 5.0
      m.select(col("n").as("n_days"), round(avgVol, 6).as("avg_vol"),
        round(col("sp"), 6).as("portfolio_vol"),
        round(avgVol / col("sp"), 4).as("diversification_ratio"))
    }),

    "q546_paf" -> ((s, dir) => {
      // population attributable fraction of high balance for the
      // ≥3-order outcome: PAF = p_e(RR−1)/(1+p_e(RR−1)) plus the
      // attributable fraction among the exposed — the public-health
      // "how much of the outcome does the exposure explain" scalar
      // completing the q439/q447/q516 epi panel. One 2×2 aggregate.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select((col("c_acctbal") > 5000.0).as("e"),
          (coalesce(col("cnt"), lit(0L)) >= 3).as("o"))
      val m = base.agg(count(lit(1)).cast("double").as("n"),
        sum(when(col("e"), 1L).otherwise(0L)).cast("double").as("ne"),
        sum(when(col("e") && col("o"), 1L).otherwise(0L)).cast("double")
          .as("a"),
        sum(when(!col("e") && col("o"), 1L).otherwise(0L))
          .cast("double").as("c"))
      val pe = col("ne") / col("n")
      val rr = (col("a") / col("ne")) / (col("c") / (col("n") -
        col("ne")))
      m.select(col("n").cast("long").as("n_customers"),
        round(pe, 4).as("p_exposed"), round(rr, 4).as("rr"),
        round(pe * (rr - 1) / (lit(1.0) + pe * (rr - 1)), 6).as("paf"),
        round((rr - 1) / rr, 6).as("af_exposed"))
    }),

    "q547_median_survival" -> ((s, dir) => {
      // median survival time with the Greenwood-band CI: the first
      // event times where S, its upper band, and its lower band cross
      // 0.5 — THE headline number a KM curve is drawn for (q512 gives
      // the bands; this reads them out). Same machinery + one
      // conditional min.
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
      val km = risk
        .withColumn("surv", exp(sum(log(
          (col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))).over(durRunning)))
        .withColumn("gsum", sum(col("d").cast("double") /
          (col("n_risk").cast("double") *
            (col("n_risk") - col("d")).cast("double"))).over(durRunning))
        .withColumn("se", col("surv") * sqrt(col("gsum")))
      km.agg(first(col("n_risk")).as("__unused"),
          min(when(col("surv") <= 0.5, col("dur"))).as("median"),
          min(when(col("surv") + lit(1.96) * col("se") <= 0.5,
            col("dur"))).as("ciLo"),
          min(when(col("surv") - lit(1.96) * col("se") <= 0.5,
            col("dur"))).as("ciHi"))
        .crossJoin(broadcast(tot))
        .select(col("n_total").as("n_customers"),
          col("median").as("median_survival_days"),
          col("ciHi").as("ci_lo_days"), col("ciLo").as("ci_hi_days"))
    }),

    "q548_bayes_factor" -> ((s, dir) => {
      // BIC-approximated Bayes factor for the weekend effect on daily
      // purchase counts: the q471 Poisson GLM vs the constant-rate null
      // (the y! terms cancel), evidence bucketed on the Jeffreys scale —
      // Bayesian model comparison on top of the frequentist fit. Same
      // 3-step Newton fold + two likelihood passes.
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
      val ll = daily.crossJoin(broadcast(fit))
        .crossJoin(broadcast(daily.agg(avg(col("y")).as("ybar"))))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("y") * (col("a") + col("b") * col("x")) -
            exp(col("a") + col("b") * col("x"))).as("ll1"),
          sum(col("y") * log(col("ybar")) - col("ybar")).as("ll0"))
      val bic1 = lit(-2.0) * col("ll1") + lit(2.0) * log(col("n"))
      val bic0 = lit(-2.0) * col("ll0") + log(col("n"))
      val log10bf = (bic0 - bic1) / 2.0 / math.log(10.0)
      ll.select(col("n").cast("long").as("n_days"),
        round(col("ll0"), 2).as("ll_null"),
        round(col("ll1"), 2).as("ll_weekend"),
        round(log10bf, 4).as("log10_bayes_factor"),
        when(log10bf > 1.0, lit("strong"))
          .when(log10bf > 0.5, lit("substantial"))
          .otherwise(lit("weak")).as("evidence_for_weekend"))
    }),

    "q549_inspection_paradox" -> ((s, dir) => {
      // inspection paradox on purchase interarrivals: the plain mean
      // gap vs the LENGTH-BIASED mean (Σx²/Σx — the gap a random
      // instant lands in), whose ratio equals 1 + CV² exactly — the
      // renewal-theory waiting-time correction behind every "average
      // wait" claim. Gaps via the q452 rank-shift join, one moment
      // aggregate.
      val p = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("t"), col("event_id"))
      val ranked = graft.ops.PrefixSum.globalRank(
        p, Seq(col("t"), col("event_id")), "rk")
      val prev = ranked.select((col("rk") + 1).as("rk"),
        col("t").as("prev"))
      val gaps = ranked.join(prev, Seq("rk"))
        .select(((col("t") - col("prev")).cast("double") / 1e6).as("g"))
      val m = gaps.agg(count(lit(1)).cast("double").as("n"),
        sum(col("g")).as("sx"), sum(col("g") * col("g")).as("sxx"))
      val mean = col("sx") / col("n")
      val lb = col("sxx") / col("sx")
      val cv2 = (col("sxx") / col("n") - mean * mean) / (mean * mean)
      m.select(col("n").cast("long").as("n_gaps"),
        round(mean, 4).as("mean_gap_s"),
        round(lb, 4).as("length_biased_mean_s"),
        round(lb / mean, 6).as("ratio"),
        round(lit(1.0) + cv2, 6).as("one_plus_cv2"))
    }),

    "q550_er_evaluation" -> ((s, dir) => {
      // entity-resolution evaluation: the q25 n-gram Jaccard pair rule
      // scored against the PLANTED near-dup ground truth (doc i ↔ its
      // mutated copy i+100000) — precision/recall/F1 of the dedup
      // operator itself, the eval every q23/q24/q25 threshold choice
      // answers to. Candidates ship id-only; truth is the doc count.
      val pred = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir),
          "text", "doc_id", n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"))
      val nTruth = t(s, dir, "documents")
        .agg(count(lit(1)).cast("double").as("nt"))
      val m = pred.agg(count(lit(1)).cast("double").as("np"),
        sum(when(col("idB") === col("idA") + 100000L, 1L).otherwise(0L))
          .cast("double").as("tp"))
      val prc = col("tp") / col("np")
      val rec = col("tp") / col("nt")
      m.crossJoin(broadcast(nTruth))
        .select(col("np").cast("long").as("n_predicted"),
          col("nt").cast("long").as("n_truth"),
          col("tp").cast("long").as("true_positives"),
          round(prc, 6).as("precision"), round(rec, 6).as("recall"),
          round(lit(2.0) * prc * rec / (prc + rec), 6).as("f1"))
    }),

    "q551_zero_truncated_poisson" -> ((s, dir) => {
      // zero-truncated Poisson fit of orders-per-ACTIVE-customer (the
      // activity data is truncated at zero by construction): λ solved
      // by 4 Newton steps of λ/(1−e^−λ) = m̄ on the ONE-row scalar
      // state, the implied never-orderer share e^−λ checked against the
      // ACTUAL zero share the customer table knows — the truncated-
      // count model with its own validation. One aggregate + scalar
      // fold.
      val oc = customerOrderCounts(s, dir)
      val m = oc.agg(count(lit(1)).cast("double").as("na"),
        avg(col("cnt").cast("double")).as("mbar"))
      val actual = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .agg(count(lit(1)).cast("double").as("nc"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).cast("double")
            .as("nz"))
      var fit = m.select(col("na"), col("mbar"), col("mbar").as("lam"))
      for (it <- 1 to 4) {
        val e = exp(-col("lam"))
        val f = col("lam") / (lit(1.0) - e) - col("mbar")
        val fp = (lit(1.0) - e - col("lam") * e) /
          ((lit(1.0) - e) * (lit(1.0) - e))
        fit = fit.select(col("na"), col("mbar"),
          (col("lam") - f / fp).as("lam"))
      }
      fit.crossJoin(broadcast(actual))
        .select(col("na").cast("long").as("n_active"),
          round(col("mbar"), 4).as("mean_orders_active"),
          round(col("lam"), 6).as("lambda_hat"),
          round(exp(-col("lam")), 6).as("implied_zero_share"),
          round(col("nz") / col("nc"), 6).as("actual_zero_share"))
    }),

    "q552_gph_long_memory" -> ((s, dir) => {
      // GPH log-periodogram estimate of the long-memory parameter d on
      // the daily event-count series: regress ln I(ω_k) on
      // ln(4sin²(ω_k/2)) over the 8 lowest frequencies — the spectral
      // companion to q275's Hurst exponent (d ≈ H − 0.5). Fixed 8×30
      // explode; demeaned series.
      val daily = dailyEvents(s, dir)
      val mu = daily.agg(avg(col("y")).as("mu"),
        count(lit(1)).cast("double").as("nn"))
      val rn = graft.ops.PrefixSum.globalRank(daily, Seq(col("d")), "rk")
      val ks = s.range(1, 9).select(col("id").cast("double").as("k"))
      val terms = rn.crossJoin(broadcast(mu)).crossJoin(broadcast(ks))
        .select(col("k"), col("nn"),
          ((col("y") - col("mu")) *
            cos(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("cr"),
          ((col("y") - col("mu")) *
            sin(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("ci"))
      val perio = terms.groupBy(col("k"))
        .agg(first(col("nn")).as("nn"), sum(col("cr")).as("sc"),
          sum(col("ci")).as("ss"))
        .select(col("k"), col("nn"),
          ((col("sc") * col("sc") + col("ss") * col("ss")) / col("nn"))
            .as("ik"))
      val reg = perio.select(
        log(col("ik")).as("ly"),
        log(lit(4.0) * sin(lit(math.Pi) * col("k") / col("nn")) *
          sin(lit(math.Pi) * col("k") / col("nn"))).as("lx"))
      reg.agg(count(lit(1)).as("m_freqs"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            / (avg(col("lx") * col("lx")) - avg(col("lx")) *
              avg(col("lx")))).as("slope"),
          ((avg(col("lx") * col("ly")) - avg(col("lx")) * avg(col("ly")))
            * (avg(col("lx") * col("ly")) - avg(col("lx")) *
              avg(col("ly"))) /
            ((avg(col("lx") * col("lx")) - avg(col("lx")) *
              avg(col("lx"))) *
              (avg(col("ly") * col("ly")) - avg(col("ly")) *
                avg(col("ly"))))).as("r2"))
        .select(col("m_freqs"), round(-col("slope"), 6).as("d_hat"),
          round(col("r2"), 6).as("r2"))
    }),

    "q553_von_neumann" -> ((s, dir) => {
      // von Neumann ratio (mean-square successive difference over the
      // variance) on daily event counts: VN ≈ 2 under independence,
      // low = trending, high = oscillating — the classic randomness
      // scalar joining q276 (runs) and q430 (turning points).
      // Calendar-bounded lag + one moment aggregate.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
      val m = daily.withColumn("yp", lag(col("y"), 1).over(w))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("yp").isNotNull,
            (col("y") - col("yp")) * (col("y") - col("yp")))
            .otherwise(0.0)).as("ssd"),
          avg(col("y")).as("mu"), sum(col("y") * col("y")).as("syy"))
      val vn = (col("ssd") / (col("n") - 1)) /
        ((col("syy") - col("n") * col("mu") * col("mu")) /
          (col("n") - 1))
      val z = (vn - 2) /
        sqrt(lit(4.0) * (col("n") - 2) /
          ((col("n") + 1) * (col("n") - 1)))
      m.select(col("n").cast("long").as("n_days"),
        round(vn, 6).as("vn_ratio"), round(z, 6).as("z"),
        when(z < -1.96, lit("trending"))
          .when(z > 1.96, lit("oscillating"))
          .otherwise(lit("independent")).as("verdict"))
    }),

    "q554_rank_mobility" -> ((s, dir) => {
      // spend-rank mobility matrix: customers active in BOTH 1995 and
      // 1996 assigned within-year quintiles, the 5×5 transition counts
      // with row shares — does the spend hierarchy persist (q312 tracks
      // places; this tracks economic position)? Two within-year exact
      // ranks, one transition rollup.
      val spend = customerYearCents(s, dir)
      val both = spend.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("ny")).filter(col("ny") === 2)
        .select(col("o_custkey"))
      val active = spend.join(both, Seq("o_custkey"))
      val wY = Window.partitionBy(col("yr"))
        .orderBy(col("cents"), col("o_custkey"))
      val ranked = active.withColumn("rk", row_number().over(wY)
          .cast("long"))
        .join(active.groupBy(col("yr")).agg(count(lit(1)).as("ny2")),
          Seq("yr"))
        .withColumn("qn", expr("((rk - 1) * 5) div ny2"))
      val a = ranked.filter(col("yr") === 1995)
        .select(col("o_custkey"), col("qn").as("q95"))
      val b = ranked.filter(col("yr") === 1996)
        .select(col("o_custkey"), col("qn").as("q96"))
      val trans = a.join(b, Seq("o_custkey"))
        .groupBy(col("q95"), col("q96"))
        .agg(count(lit(1)).as("n"))
      val rowTot = trans.groupBy(col("q95")).agg(sum(col("n")).as("rt"))
      trans.join(rowTot, Seq("q95"))
        .select(col("q95").as("quintile_1995"),
          col("q96").as("quintile_1996"), col("n"),
          round(col("n").cast("double") / col("rt"), 4).as("row_share"))
        .orderBy(col("quintile_1995"), col("quintile_1996"))
    }),

    "q555_bowker_symmetry" -> ((s, dir) => {
      // Bowker symmetry test on the q554 spend-mobility matrix: is
      // upward movement mirrored by downward (χ² = Σ_{i<j}
      // (n_ij−n_ji)²/(n_ij+n_ji))? The matched-categories
      // generalization of q328's McNemar on the transition fixture.
      // Bounded 5×5 algebra after the same two-rank rollup.
      val spend = customerYearCents(s, dir)
      val both = spend.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("ny")).filter(col("ny") === 2)
        .select(col("o_custkey"))
      val active = spend.join(both, Seq("o_custkey"))
      val wY = Window.partitionBy(col("yr"))
        .orderBy(col("cents"), col("o_custkey"))
      val ranked = active.withColumn("rk", row_number().over(wY)
          .cast("long"))
        .join(active.groupBy(col("yr")).agg(count(lit(1)).as("ny2")),
          Seq("yr"))
        .withColumn("qn", expr("((rk - 1) * 5) div ny2"))
      val a = ranked.filter(col("yr") === 1995)
        .select(col("o_custkey"), col("qn").as("q95"))
      val b = ranked.filter(col("yr") === 1996)
        .select(col("o_custkey"), col("qn").as("q96"))
      val trans = a.join(b, Seq("o_custkey"))
        .groupBy(col("q95"), col("q96")).agg(count(lit(1)).as("n"))
      val up = trans.filter(col("q95") < col("q96"))
        .select(col("q95").as("i"), col("q96").as("j"),
          col("n").as("nij"))
      val dn = trans.filter(col("q95") > col("q96"))
        .select(col("q96").as("i"), col("q95").as("j"),
          col("n").as("nji"))
      val pairs = up.join(dn, Seq("i", "j"), "full_outer")
        .select(coalesce(col("nij"), lit(0L)).as("nij"),
          coalesce(col("nji"), lit(0L)).as("nji"))
        .filter(col("nij") + col("nji") > 0)
      pairs.agg(count(lit(1)).as("df"),
          sum((col("nij") - col("nji")).cast("double") *
            (col("nij") - col("nji")) /
            (col("nij") + col("nji")).cast("double")).as("chi2"))
        .select(round(col("chi2"), 4).as("bowker_chi2"), col("df"),
          (col("chi2") < 18.31).as("symmetric_at_5pct_df10"))
    }),

    "q556_fishers_alpha" -> ((s, dir) => {
      // Fisher's log-series alpha for the token abundance distribution:
      // S = α·ln(1 + N/α) solved by 5 Newton steps on the one-row
      // scalar state, with the log-series' predicted singleton count
      // checked against the observed f₁ — the classic diversity index
      // joining q523's Chao1 and q524's Good-Turing on the same
      // count-of-counts base.
      val cnt = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val m = cnt.agg(count(lit(1)).cast("double").as("ss"),
        sum(col("c")).cast("double").as("nn"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double")
          .as("f1"))
      var fit = m.select(col("ss"), col("nn"), col("f1"),
        col("ss").as("alpha"))
      for (it <- 1 to 5) {
        val g = col("alpha") * log(lit(1.0) + col("nn") / col("alpha")) -
          col("ss")
        val gp = log(lit(1.0) + col("nn") / col("alpha")) -
          col("nn") / (col("alpha") + col("nn"))
        fit = fit.select(col("ss"), col("nn"), col("f1"),
          (col("alpha") - g / gp).as("alpha"))
      }
      fit.select(col("ss").cast("long").as("s_types"),
        col("nn").cast("long").as("n_tokens"),
        round(col("alpha"), 4).as("fishers_alpha"),
        round(col("alpha") * col("nn") / (col("nn") + col("alpha")), 2)
          .as("predicted_singletons"),
        col("f1").cast("long").as("observed_singletons"))
    }),

    "q557_hosmer_lemeshow" -> ((s, dir) => {
      // Hosmer-Lemeshow goodness-of-calibration χ² for the q138
      // classifier: decile bins of the predicted probability (exact
      // global ranks), Σ(O−E)²/(n·p̄(1−p̄)), df = 8 — the TEST behind
      // q144's calibration plot. One rank + one bin rollup.
      val (_, cols, wts) = classifierModel(s, dir)
      // features rebuilt WITH doc_id so tied scores bin deterministically
      val len = length(col("text")).cast("double")
      val featD = t(s, dir, "documents").select(col("doc_id"),
        lit(1.0).as("f_bias"), (len / 100.0).as("f_len"),
        ((len - length(regexp_replace(col("text"), " ", ""))
          .cast("double")) / len).as("f_space"),
        ((len - length(regexp_replace(col("text"), "[0-9]", ""))
          .cast("double")) / len).as("f_digit"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = featD.select(col("doc_id"), col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val ranked = graft.ops.PrefixSum.globalRank(
          scored, Seq(col("p"), col("doc_id")), "rk")
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
        .withColumn("bin", expr("((rk - 1) * 10) div n"))
      val bins = ranked.groupBy(col("bin"))
        .agg(count(lit(1)).cast("double").as("nb"),
          sum(col("y")).as("o"), sum(col("p")).as("e"))
        .withColumn("pbar", col("e") / col("nb"))
        .withColumn("term", (col("o") - col("e")) *
          (col("o") - col("e")) /
          (col("nb") * col("pbar") * (lit(1.0) - col("pbar"))))
      bins.agg(count(lit(1)).as("n_bins"), sum(col("term")).as("hl"))
        .select(col("n_bins"), round(col("hl"), 4).as("hl_chi2"),
          lit(8L).as("df"),
          (col("hl") < 15.51).as("calibrated_at_5pct"))
    }),

    "q558_lorenz_asymmetry" -> ((s, dir) => {
      // Lorenz asymmetry coefficient S = F(μ) + L(μ): the population
      // share below the mean plus their spend share — S < 1 means
      // inequality is driven by many small units, S > 1 by a few giants
      // (the SHAPE q170's Gini scalar can't see). Exact integer cents,
      // one aggregate.
      val spend = customerOrderCents(s, dir)
      val tot = spend.agg(count(lit(1)).cast("double").as("n"),
        sum(col("cents")).cast("double").as("tc"))
      val m = spend.crossJoin(broadcast(tot))
        .agg(first(col("n")).as("n"), first(col("tc")).as("tc"),
          sum(when(col("cents").cast("double") * col("n") < col("tc"),
            1L).otherwise(0L)).cast("double").as("below"),
          sum(when(col("cents").cast("double") * col("n") < col("tc"),
            col("cents")).otherwise(0L)).cast("double").as("belowC"))
      val f = col("below") / col("n")
      val l = col("belowC") / col("tc")
      m.select(col("n").cast("long").as("n_customers"),
        round(f, 6).as("f_at_mean"), round(l, 6).as("l_at_mean"),
        round(f + l, 6).as("lorenz_asymmetry"),
        when(f + l > 1.0, lit("few_large_units"))
          .otherwise(lit("many_small_units")).as("inequality_driver"))
    }),

    "q559_spectral_flatness" -> ((s, dir) => {
      // spectral flatness (Wiener entropy) of the daily event-count
      // series: geometric over arithmetic mean of the periodogram at
      // the 14 positive frequencies — 1 = white noise, →0 = tonal/
      // seasonal (the one-number read on q279's full periodogram).
      // Fixed 14×30 explode, q552's DFT machinery.
      val daily = dailyEvents(s, dir)
      val mu = daily.agg(avg(col("y")).as("mu"),
        count(lit(1)).cast("double").as("nn"))
      val rn = graft.ops.PrefixSum.globalRank(daily, Seq(col("d")), "rk")
      val ks = s.range(1, 15).select(col("id").cast("double").as("k"))
      val terms = rn.crossJoin(broadcast(mu)).crossJoin(broadcast(ks))
        .select(col("k"), col("nn"),
          ((col("y") - col("mu")) *
            cos(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("cr"),
          ((col("y") - col("mu")) *
            sin(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("ci"))
      val perio = terms.groupBy(col("k"))
        .agg(first(col("nn")).as("nn"), sum(col("cr")).as("sc"),
          sum(col("ci")).as("ss"))
        .select(((col("sc") * col("sc") + col("ss") * col("ss")) /
          col("nn")).as("ik"))
      perio.agg(count(lit(1)).as("m_freqs"),
          avg(log(col("ik"))).as("mlog"), avg(col("ik")).as("mar"))
        .select(col("m_freqs"),
          round(exp(col("mlog")), 4).as("geometric_mean"),
          round(col("mar"), 4).as("arithmetic_mean"),
          round(exp(col("mlog")) / col("mar"), 6).as("spectral_flatness"))
    }),

    "q560_hoover_index" -> ((s, dir) => {
      // Hoover (Robin Hood) index of lifetime spend: the share of total
      // spend that would have to move to equalize everyone — ½·Σ|xᵢ/X −
      // 1/n|, kept EXACT as ½·Σ|xᵢ·n − X|/(X·n) in integer cents until
      // the final division; the Σ runs in DECIMAL (cents·n per row
      // overflowed the long accumulator at the f30 relational scale-up;
      // exact to 1e38, double only in the final ratio). The most
      // interpretable member of the q170/q409/q410/q489/q558
      // inequality suite.
      val spend = customerOrderCents(s, dir)
      val tot = spend.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("tc"))
      spend.crossJoin(broadcast(tot))
        .agg(first(col("n")).as("n"), first(col("tc")).as("tc"),
          sum(abs(col("cents").cast("decimal(18,0)") * col("n") -
            col("tc"))).as("sabs"))
        .select(col("n").as("n_customers"),
          round(col("sabs").cast("double") /
            (lit(2.0) * col("tc").cast("double") *
              col("n").cast("double")), 6).as("hoover_index"))
    }),

    "q561_german_tank" -> ((s, dir) => {
      // German tank estimator: the UMVU serial-number estimate m(1+1/k)
      // −1 of the part-catalog size from a deterministic 5% keyHash
      // sample of lineitems, checked against the ACTUAL max part key —
      // population-size inference from ids alone, with its own ground
      // truth. One sampled distinct + one aggregate.
      val samp = t(s, dir, "lineitem")
        .filter(pmod(graft.ops.Sampling.keyHash(
          col("l_orderkey") * 10 + col("l_linenumber")), lit(100L)) < 5)
        .select(col("l_partkey")).distinct()
      val m = samp.agg(count(lit(1)).cast("double").as("k"),
        max(col("l_partkey")).cast("double").as("m"))
      val actual = t(s, dir, "part")
        .agg(max(col("p_partkey")).cast("double").as("actual"))
      val est = col("m") * (lit(1.0) + lit(1.0) / col("k")) - 1
      m.crossJoin(broadcast(actual))
        .select(col("k").cast("long").as("k_sampled_serials"),
          col("m").cast("long").as("max_observed"),
          round(est, 2).as("estimated_population"),
          col("actual").cast("long").as("actual_population"),
          round((est - col("actual")) / col("actual") * 100, 4)
            .as("error_pct"))
    }),

    "q562_spell_lengths" -> ((s, dir) => {
      // spell-length distribution of above-median days (gaps-and-
      // islands on the daily series): how long do hot streaks last —
      // the duration view behind q276's runs count. Islands via the
      // rank-difference key over the calendar-bounded frame.
      val daily = dailyEvents(s, dir)
      val med = daily.agg(expr("percentile(y, 0.5)").as("med"))
      val flagged = daily.crossJoin(broadcast(med))
        .withColumn("above", col("y") > col("med"))
        .withColumn("rnAll", row_number().over(Window.orderBy(col("d"))))
      val spells = flagged.filter(col("above"))
        .withColumn("rnAbove",
          row_number().over(Window.orderBy(col("d"))))
        .withColumn("island", col("rnAll") - col("rnAbove"))
        .groupBy(col("island"))
        .agg(count(lit(1)).as("len"))
      spells.groupBy(col("len").as("spell_length"))
        .agg(count(lit(1)).as("n_spells"))
        .orderBy(col("spell_length"))
    }),

    "q563_fishers_g" -> ((s, dir) => {
      // Fisher's g-test for hidden periodicity in the daily series: the
      // largest periodogram ordinate's share of the total, p ≈
      // m(1−g)^(m−1) — the EXACT-null spectral test the q279
      // periodogram plot eyeballs. q559's DFT machinery, argmax on the
      // rounded share.
      val daily = dailyEvents(s, dir)
      val mu = daily.agg(avg(col("y")).as("mu"),
        count(lit(1)).cast("double").as("nn"))
      val rn = graft.ops.PrefixSum.globalRank(daily, Seq(col("d")), "rk")
      val ks = s.range(1, 15).select(col("id").cast("double").as("k"))
      val terms = rn.crossJoin(broadcast(mu)).crossJoin(broadcast(ks))
        .select(col("k"), col("nn"),
          ((col("y") - col("mu")) *
            cos(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("cr"),
          ((col("y") - col("mu")) *
            sin(lit(2.0 * math.Pi) * col("k") *
              (col("rk") - 1).cast("double") / col("nn"))).as("ci"))
      val perio = terms.groupBy(col("k"))
        .agg(first(col("nn")).as("nn"), sum(col("cr")).as("sc"),
          sum(col("ci")).as("ss"))
        .select(col("k"),
          ((col("sc") * col("sc") + col("ss") * col("ss")) / col("nn"))
            .as("ik"))
      val tot = perio.agg(sum(col("ik")).as("ti"),
        count(lit(1)).cast("double").as("m"))
      val g = perio.crossJoin(broadcast(tot))
        .select(col("k"), col("m"),
          round(col("ik") / col("ti"), 6).as("g"))
        .orderBy(col("g").desc, col("k")).limit(1)
      g.select(col("k").cast("long").as("dominant_k"),
        col("g").as("fishers_g"),
        round(col("m") * pow(lit(1.0) - col("g"), col("m") - 1), 6)
          .as("p_value"),
        (col("m") * pow(lit(1.0) - col("g"), col("m") - 1) < 0.05)
          .as("periodic_at_5pct"))
    }),

    "q564_coupon_collector" -> ((s, dir) => {
      // coupon-collector check: the event index at which the LAST new
      // item first appeared vs the expected n·H_n draws — is item
      // exposure uniform-random or biased (a slow completion means cold
      // items)? First-seen positions from one global rank; H_n from the
      // bounded item range.
      val ev = events(s, dir)
        .select(col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val ranked = graft.ops.PrefixSum.globalRank(
        ev, Seq(col("ts"), col("event_id")), "rk")
      val firstSeen = ranked.groupBy(col("item"))
        .agg(min(col("rk")).as("fr"))
      val nItems = firstSeen.agg(count(lit(1)).as("ni"),
        max(col("fr")).as("observed"))
      val h = s.range(1, 1000).crossJoin(broadcast(nItems))
        .filter(col("id") <= col("ni"))
        .agg(first(col("ni")).as("ni"), first(col("observed"))
          .as("observed"),
          sum(lit(1.0) / col("id").cast("double")).as("hn"))
      h.select(col("ni").as("n_items"),
        round(col("ni").cast("double") * col("hn"), 2)
          .as("expected_draws"),
        col("observed").as("observed_draws"),
        round(col("observed").cast("double") /
          (col("ni").cast("double") * col("hn")), 4).as("ratio"))
    }),

    "q565_power_means" -> ((s, dir) => {
      // generalized-mean gallery of order values: harmonic, geometric,
      // arithmetic, quadratic — with the power-mean inequality chain
      // verified in-data (H ≤ G ≤ A ≤ Q) — the aggregation-choice
      // primer behind every "average". One moment aggregate.
      val v = t(s, dir, "orders")
        .select((expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .cast("double") / 100.0).as("v"))
      val m = v.agg(count(lit(1)).cast("double").as("n"),
        sum(lit(1.0) / col("v")).as("sInv"), avg(log(col("v")))
          .as("mLog"),
        avg(col("v")).as("mA"), avg(col("v") * col("v")).as("mSq"))
      val h = col("n") / col("sInv")
      val g = exp(col("mLog"))
      val q = sqrt(col("mSq"))
      m.select(col("n").cast("long").as("n_orders"),
        round(h, 2).as("harmonic"), round(g, 2).as("geometric"),
        round(col("mA"), 2).as("arithmetic"), round(q, 2)
          .as("quadratic"),
        (h <= g && g <= col("mA") && col("mA") <= q)
          .as("inequality_chain_holds"))
    }),

    "q566_iqv" -> ((s, dir) => {
      // index of qualitative variation of the segment mix per nation:
      // (k/(k−1))(1 − Σp²) — 0 = one segment dominates, 1 = perfectly
      // mixed; the categorical diversity the numeric suite can't
      // express. Cell rollups collapse map-side; bounded nation grid.
      val cells = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment"))
        .agg(count(lit(1)).cast("double").as("c"))
      val tot = cells.groupBy(col("nk"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
          sum(col("c") * col("c")).as("ss"))
      tot.select(col("nk").cast("long").as("nation"),
          col("n").cast("long").as("n_customers"),
          col("k").as("k_segments"),
          round(col("k").cast("double") / (col("k") - 1) *
            (lit(1.0) - col("ss") / (col("n") * col("n"))), 6)
            .as("iqv"))
        .orderBy(col("nation"))
    }),

    "q567_secretary_rule" -> ((s, dir) => {
      // optimal-stopping (secretary) replay on each customer's order
      // sequence: skip the first 37%, take the first later order beating
      // the observed max — how often does the 1/e rule land the true
      // best order? Per-customer windows shuffle once on the key; two
      // conditional aggregates.
      val seq0 = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"), col("o_orderdate"),
          col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("v"))
      val wC = Window.partitionBy(col("ck"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val ranked = seq0.withColumn("rn", row_number().over(wC)
        .cast("long"))
      val per = ranked.groupBy(col("ck"))
        .agg(count(lit(1)).as("nu"), max(col("v")).as("vmax"))
        .filter(col("nu") >= 3)
        .withColumn("k", expr("(nu * 37) div 100"))
        .withColumn("k1", greatest(col("k"), lit(1L)))
      val thresh = ranked.join(per, Seq("ck"))
        .groupBy(col("ck"))
        .agg(first(col("nu")).as("nu"), first(col("vmax")).as("vmax"),
          first(col("k1")).as("k1"),
          max(when(col("rn") <= col("k1"), col("v"))).as("thr"))
      val pick = ranked.join(thresh, Seq("ck"))
        .filter(col("rn") > col("k1") && col("v") > col("thr"))
        .groupBy(col("ck"))
        .agg(first(col("vmax")).as("vmax2"), min(col("rn")).as("pickRn"))
      val pickVal = ranked
        .join(pick.select(col("ck"), col("pickRn"), col("vmax2")),
          Seq("ck"))
        .filter(col("rn") === col("pickRn"))
        .select(col("ck"), (col("v") === col("vmax2")).as("success"))
      val nUsers = per.agg(count(lit(1)).cast("double").as("nu2"))
      pickVal.agg(sum(when(col("success"), 1L).otherwise(0L))
          .cast("double").as("wins"),
          count(lit(1)).cast("double").as("picked"))
        .crossJoin(broadcast(nUsers))
        .select(col("nu2").cast("long").as("n_customers"),
          col("picked").cast("long").as("n_picked"),
          col("wins").cast("long").as("n_best_found"),
          round(col("wins") / col("nu2"), 4).as("success_rate"),
          round(lit(1.0) / math.E, 4).as("theory_1_over_e"))
    }),

    "q568_effective_catalog" -> ((s, dir) => {
      // effective catalog size e^H of the item-interaction distribution
      // (and its share of the raw catalog) — the entropy-based "how
      // many items REALLY matter" product metric next to q193's HHI.
      // One item rollup + one entropy aggregate.
      val items = events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long")
          .as("item"))
        .groupBy(col("item")).agg(count(lit(1)).cast("double").as("c"))
      val tot = items.agg(sum(col("c")).as("tc"),
        count(lit(1)).cast("double").as("k"))
      val h = items.crossJoin(broadcast(tot))
        .agg(first(col("k")).as("k"),
          sum(-(col("c") / col("tc")) * log(col("c") / col("tc")))
            .as("hh"))
      h.select(col("k").cast("long").as("catalog_size"),
        round(col("hh"), 6).as("entropy_nats"),
        round(exp(col("hh")), 2).as("effective_catalog_size"),
        round(exp(col("hh")) / col("k"), 4).as("effective_share"))
    }),

    "q569_bimodality" -> ((s, dir) => {
      // Sarle's bimodality coefficient (skew² + 1)/kurtosis of customer
      // balances — the one-number "should I even fit a mixture" screen
      // ahead of q416's EM (BC > 0.555 suggests two modes). Central
      // moments from raw power sums in one aggregate.
      val x = t(s, dir, "customer")
        .select((expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
          .cast("double") / 100.0).as("x"))
      val m = x.agg(count(lit(1)).cast("double").as("n"),
        avg(col("x")).as("m1"), avg(col("x") * col("x")).as("m2"),
        avg(col("x") * col("x") * col("x")).as("m3"),
        avg(col("x") * col("x") * col("x") * col("x")).as("m4"))
      val mu = col("m1")
      val c2 = col("m2") - mu * mu
      val c3 = col("m3") - lit(3.0) * mu * col("m2") +
        lit(2.0) * mu * mu * mu
      val c4 = col("m4") - lit(4.0) * mu * col("m3") +
        lit(6.0) * mu * mu * col("m2") - lit(3.0) * mu * mu * mu * mu
      val skew = c3 / pow(c2, 1.5)
      val kurt = c4 / (c2 * c2)
      m.select(col("n").cast("long").as("n_customers"),
        round(skew, 6).as("skewness"), round(kurt, 6).as("kurtosis"),
        round((skew * skew + 1) / kurt, 6).as("bimodality_coef"),
        ((skew * skew + 1) / kurt > 0.555).as("suggests_bimodal"))
    }),

    "q570_kelly" -> ((s, dir) => {
      // Kelly criterion on daily revenue changes treated as a repeated
      // bet: win rate p, payoff ratio b = mean gain / mean loss, f* =
      // p − (1−p)/b and the edge p·b − (1−p) — the bet-sizing capstone
      // of the finance suite (q351 measures risk; this sizes exposure
      // to it). Calendar-bounded lag + one conditional aggregate.
      val daily = dailyOrderRevenue(s, dir)
      val w = Window.orderBy(col("d"))
      val r = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select((col("rev") - col("prev")).as("chg"))
        .filter(col("chg") =!= 0)
      val m = r.agg(count(lit(1)).cast("double").as("n"),
        sum(when(col("chg") > 0, 1L).otherwise(0L)).cast("double")
          .as("nup"),
        avg(when(col("chg") > 0, col("chg"))).as("gain"),
        avg(when(col("chg") < 0, -col("chg"))).as("loss"))
      val p = col("nup") / col("n")
      val b = col("gain") / col("loss")
      m.select(col("n").cast("long").as("n_days"),
        round(p, 4).as("p_win"), round(b, 4).as("payoff_ratio"),
        round(p - (lit(1.0) - p) / b, 6).as("kelly_fraction"),
        round(p * b - (lit(1.0) - p), 6).as("edge"))
    }),

    "q571_item_uniformity" -> ((s, dir) => {
      // item-exposure uniformity: chi² of the 100-item interaction
      // distribution against the uniform catalog (df 99) with the most
      // over-represented item — is the q568 effective-catalog shrinkage
      // noise or concentration? One item rollup.
      val items = events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long")
          .as("item"))
        .groupBy(col("item")).agg(count(lit(1)).cast("double").as("c"))
      val tot = items.agg(sum(col("c")).as("tc"),
        count(lit(1)).cast("double").as("k"))
      val withE = items.crossJoin(broadcast(tot))
        .withColumn("e", col("tc") / col("k"))
      val chi = withE.agg(first(col("k")).as("k"),
        sum((col("c") - col("e")) * (col("c") - col("e")) / col("e"))
          .as("chi2"))
      val top = withE.orderBy(col("c").desc, col("item")).limit(1)
        .select(col("item").as("top_item"),
          round(col("c") / col("tc"), 6).as("top_share"))
      chi.crossJoin(broadcast(top))
        .select(col("k").cast("long").as("n_items"),
          round(col("chi2"), 4).as("chi2_uniform"),
          (col("k") - 1).cast("long").as("df"), col("top_item"),
          col("top_share"))
    }),

    "q572_gibrats_law" -> ((s, dir) => {
      // Gibrat's law test: is brand revenue growth independent of brand
      // size? OLS of ln(rev96/rev95) on ln(rev95) — slope 0 under
      // Gibrat, negative = small brands grow faster (the firm-growth
      // classic behind q498's Taylor scaling). One brand rollup, one
      // closed-form OLS with slope SE.
      val br = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(when(year(col("o_orderdate")) === 1995,
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("r0"),
          sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("r1"))
        .filter(col("r0") > 0 && col("r1") > 0)
        .select(log(col("r0").cast("double")).as("x"),
          (log(col("r1").cast("double")) -
            log(col("r0").cast("double"))).as("y"))
      val m = br.agg(count(lit(1)).cast("double").as("n"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y")))
          .as("cxy"),
        (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("cxx"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("cyy"))
      val b = col("cxy") / col("cxx")
      val se = sqrt((col("cyy") - col("cxy") * col("cxy") / col("cxx")) *
        col("n") / (col("n") - 2) / (col("n") * col("cxx")))
      m.select(col("n").cast("long").as("n_brands"),
        round(b, 6).as("slope"), round(se, 6).as("slope_se"),
        round(b / se, 4).as("t_stat"),
        (abs(b / se) < 1.96).as("gibrat_holds"))
    }),

    "q573_price_stickiness" -> ((s, dir) => {
      // micro price stickiness: per part present both years, the unit-
      // price change 1995→1996 — share of parts repricing beyond ±1%,
      // mean absolute change, and median change — the menu-cost read on
      // the micro data under the q513 index. Part-year rollups collapse
      // map-side.
      val py = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("l_partkey"))
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
        .withColumn("chg",
          (col("r1") / col("q1")) / (col("r0") / col("q0")) - 1.0)
        // consumed twice (median ranks + the share/mean rollup); lazy
        // localCheckpoint, not persist: blocks free with the result
        // instead of accumulating in the CacheManager across a sweep
        // (PrefixSum's class doc), and the part-year rollup above
        // already reduced this to |parts| rows
        .materialize
      // exact median via the two-phase exactPercentiles, not the
      // builtin percentile(): chg is a CONTINUOUS ratio, so the
      // builtin's value→count buffer has one entry per part — a
      // single-task map that grows with the part table (the discrete-
      // domain medians elsewhere in the gallery keep the builtin,
      // whose buffer is domain-bounded there)
      val med = graft.ops.PrefixSum.exactPercentiles(
        py, col("chg"), Seq(0.5), Seq("med"))
      py.agg(count(lit(1)).as("n_parts"),
          (sum(when(abs(col("chg")) > 0.01, 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("repriced_share"),
          avg(abs(col("chg"))).as("mean_abs_change"))
        .crossJoin(broadcast(med))
        .select(col("n_parts"),
          round(col("repriced_share"), 4).as("share_repriced_1pct"),
          round(col("mean_abs_change"), 6).as("mean_abs_change"),
          round(col("med"), 6).as("median_change"))
    }),

    "q574_top_shares" -> ((s, dir) => {
      // top-share curve: revenue share of the top 1/5/10/20% customers
      // at EXACT rank cutoffs — the "what do the whales carry" readout
      // between q409's deciles and q197's ABC classes. One global rank
      // + one grouped prefix sum.
      val spend = customerOrderCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          spend, Seq(col("cents").desc, col("o_custkey")), "rk")
        .crossJoin(broadcast(spend.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("tc"))))
      val pcts = s.createDataFrame(Seq(Tuple1(1L), Tuple1(5L),
        Tuple1(10L), Tuple1(20L))).toDF("pct")
      ranked.crossJoin(broadcast(pcts))
        .filter(col("rk") <= expr("(n * pct) div 100"))
        .groupBy(col("pct"))
        .agg(count(lit(1)).as("n_top"), sum(col("cents")).as("c"),
          first(col("tc")).as("tc2"))
        .select(col("pct").as("top_pct"), col("n_top"),
          round(col("c").cast("double") / col("tc2"), 6)
            .as("revenue_share"))
        .orderBy(col("top_pct"))
    }),

    "q575_renkonen" -> ((s, dir) => {
      // Renkonen percentage similarity between the src0 and src1 token
      // FREQUENCY profiles: Σ min(p₁, p₂) over the shared support — the
      // abundance-weighted overlap q158's set-based measure flattens.
      // Token rollups collapse map-side; one full-outer frequency join.
      val toks = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TF.normTokens(col("text")))
          .as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).cast("double").as("c"))
      val tot = toks.groupBy(col("source")).agg(sum(col("c")).as("nt"))
      val p = toks.join(tot, Seq("source"))
        .select(col("source"), col("tok"), (col("c") / col("nt"))
          .as("p"))
      val a = p.filter(col("source") === "src0")
        .select(col("tok"), col("p").as("p1"))
      val b = p.filter(col("source") === "src1")
        .select(col("tok"), col("p").as("p2"))
      a.join(b, Seq("tok"), "full_outer")
        .agg(sum(when(col("p1").isNotNull && col("p2").isNotNull, 1L)
          .otherwise(0L)).as("shared_tokens"),
          sum(least(coalesce(col("p1"), lit(0.0)),
            coalesce(col("p2"), lit(0.0)))).as("renkonen"))
        .select(col("shared_tokens"),
          round(col("renkonen"), 6).as("renkonen_similarity"))
    }),

    "q576_log_loss" -> ((s, dir) => {
      // cross-entropy (log loss) of the q138 classifier vs the
      // prevalence-only null, with McFadden's pseudo-R² — the proper
      // scoring rule the accuracy metrics (q435) aren't. One scored
      // pass, probabilities clamped at 1e-12 identically on both
      // engines.
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val prev = scored.agg(avg(col("y")).as("pi"))
      val pc = least(greatest(col("p"), lit(1e-12)),
        lit(1.0) - lit(1e-12))
      val m = scored.crossJoin(broadcast(prev))
        .agg(count(lit(1)).cast("double").as("n"),
          avg(-(col("y") * log(pc) +
            (lit(1.0) - col("y")) * log(lit(1.0) - pc))).as("ll"),
          avg(-(col("y") * log(col("pi")) +
            (lit(1.0) - col("y")) * log(lit(1.0) - col("pi"))))
            .as("ll0"))
      m.select(col("n").cast("long").as("n_docs"),
        round(col("ll"), 6).as("log_loss"),
        round(col("ll0"), 6).as("log_loss_null"),
        round(lit(1.0) - col("ll") / col("ll0"), 6)
          .as("mcfadden_pseudo_r2"))
    }),

    "q577_leadership_days" -> ((s, dir) => {
      // market-leadership persistence: days each segment topped daily
      // revenue (ties to the alphabetical first — deterministic) — who
      // actually OWNS the tape behind q444's static quadrant. One
      // segment-day rollup + a per-day rank.
      val daily = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderdate").cast("date").as("d"),
          col("c_mktsegment").as("sg"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("rev"))
      val wD = Window.partitionBy(col("d"))
        .orderBy(col("rev").desc, col("sg"))
      val leaders = daily.withColumn("rk", row_number().over(wD))
        .filter(col("rk") === 1)
      val tot = leaders.agg(count(lit(1)).cast("double").as("nd"))
      leaders.groupBy(col("sg"))
        .agg(count(lit(1)).as("days_led"))
        .crossJoin(broadcast(tot))
        .select(col("sg").as("segment"), col("days_led"),
          round(col("days_led").cast("double") / col("nd"), 4)
            .as("leadership_share"))
        .orderBy(col("segment"))
    }),

    "q578_pit_uniformity" -> ((s, dir) => {
      // probability-integral-transform calibration of the expanding
      // normal forecast: PIT = Φ((y−μ̂)/σ̂) from the strictly-prior
      // history (A&S erf, sign-aware), 5-bin uniformity χ² — are the
      // forecast DISTRIBUTIONS honest, not just the means (q540 tests
      // bias; this tests the whole shape)? Exclusive prefix moments on
      // the calendar-bounded frame.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val scored = daily
        .withColumn("k", count(col("y")).over(w).cast("double"))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .filter(col("k") >= 5)
        .withColumn("mu", col("sy") / col("k"))
        .withColumn("sd", sqrt(col("syy") / col("k") -
          (col("sy") / col("k")) * (col("sy") / col("k"))))
        .filter(col("sd") > 0)
        .withColumn("zz", (col("y") - col("mu")) / col("sd"))
      val xab = abs(col("zz")) / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * xab)
      val erfAbs = lit(1.0) - (lit(0.254829592) * tt -
        lit(0.284496736) * tt * tt + lit(1.421413741) * tt * tt * tt -
        lit(1.453152027) * tt * tt * tt * tt +
        lit(1.061405429) * tt * tt * tt * tt * tt) * exp(-xab * xab)
      val pit = lit(0.5) * (lit(1.0) +
        when(col("zz") >= 0, erfAbs).otherwise(-erfAbs))
      val binned = scored
        .withColumn("bin", least(floor(pit * 5).cast("long"), lit(4L)))
        .groupBy(col("bin")).agg(count(lit(1)).cast("double").as("c"))
      val tot = binned.agg(sum(col("c")).as("n"))
      binned.crossJoin(broadcast(tot))
        .agg(first(col("n")).as("n"),
          sum((col("c") - col("n") / 5) * (col("c") - col("n") / 5) /
            (col("n") / 5)).as("chi2"))
        .select(col("n").cast("long").as("n_days_scored"),
          round(col("chi2"), 4).as("chi2_uniform_5bins"),
          lit(4L).as("df"), (col("chi2") < 9.49).as("calibrated_5pct"))
    }),

    "q579_peak_to_mean" -> ((s, dir) => {
      // peak-to-mean capacity profile of daily load: peak/mean (PAPR),
      // p95/mean at the exact rank, and the headroom a 1.2×-mean
      // provisioning would leave on the peak day — the sizing readout
      // behind q315's staffing math. One rank, one aggregate.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
      val ranked = graft.ops.PrefixSum.globalRank(
          daily, Seq(col("y"), col("d")), "rk")
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
      val m = ranked.agg(count(lit(1)).cast("double").as("nd"),
        avg(col("y").cast("double")).as("mean"),
        max(col("y")).cast("double").as("peak"),
        max(when(col("rk") === expr("(n * 95) div 100"), col("y")))
          .cast("double").as("p95"))
      m.select(col("nd").cast("long").as("n_days"),
        round(col("mean"), 2).as("mean_load"),
        col("peak").cast("long").as("peak_load"),
        round(col("peak") / col("mean"), 4).as("peak_to_mean"),
        round(col("p95") / col("mean"), 4).as("p95_to_mean"),
        round(lit(1.2) * col("mean") / col("peak"), 4)
          .as("coverage_at_1_2x_mean"))
    }),

    "q580_spectral_radius" -> ((s, dir) => {
      // spectral radius of the weighted item-type transition matrix by
      // 15 power iterations with L1 normalization on the ONE-row 5-state
      // frame (one Recurrence) — the growth factor of repeated flows
      // (the eigen view next to q525's Katz and q488's first passage).
      // Rayleigh readout at the final step.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tr = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type").as("dst"))
        .withColumn("src", lag(col("dst"), 1).over(byUser))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg((count(lit(1)).cast("double") / 1000.0).as("c"))
      val cAggs = for { i <- types; j <- types } yield
        coalesce(max(when(col("src") === i && col("dst") === j,
          col("c"))), lit(0.0)).as(s"c_${i}_$j")
      val cCols = for { i <- types; j <- types } yield col(s"c_${i}_$j")
      val x = Recurrence.iterate(types.map(i => s"x_$i" -> lit(0.2)), 15) {
        st =>
          val ys = types.map { i =>
            types.map(j => col(s"c_${i}_$j") * st(s"x_$j")).reduce(_ + _)
          }
          val norm = ys.reduce(_ + _)
          ys.map(_ / norm)
      }
      val cur = tr.agg(cAggs.head, cAggs.tail: _*)
        .select(cCols :+ x.as("x"): _*)
        .select(cCols ++ types.map(i => col(s"x.x_$i").as(s"x_$i")): _*)
      val lamExpr = types.map { i =>
        types.map(j => col(s"c_${i}_$j") * col(s"x_$j")).reduce(_ + _)
      }.reduce(_ + _)
      val argmax = types.zipWithIndex.foldRight(
          lit(types.last): Column) { case ((tp, i), acc) =>
        if (i == types.length - 1) acc
        else {
          val beats = types.drop(i + 1)
            .map(o => col(s"x_$tp") >= col(s"x_$o")).reduce(_ && _)
          when(beats, lit(tp)).otherwise(acc)
        }
      }
      cur.select(round(lamExpr * 1000, 2).as("spectral_radius"),
        argmax.as("dominant_type"),
        round(types.map(i => col(s"x_$i")).reduce((a, b) =>
          greatest(a, b)), 6).as("dominant_share"))
    }),

    "q581_sinkhorn" -> ((s, dir) => {
      // Sinkhorn-Knopp doubly-stochastic scaling of the 5×5 transition
      // counts (10 alternating row/column normalizations on one row, one
      // Recurrence) — the optimal-transport-adjacent balancing that
      // strips both margins out of a flow matrix. Convergence read off
      // the residual column-sum deviation.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tr = eventTransitions(s, dir)
      val cAggs = for { i <- types; j <- types } yield
        coalesce(max(when(col("src") === i && col("dst") === j,
          col("c"))), lit(0.0)).as(s"m_${i}_$j")
      val mNames = for { i <- types; j <- types } yield s"m_${i}_$j"
      val m = Recurrence.iterate(mNames.map(n => n -> col(n)), 10) { st =>
        // row normalize
        val r = types.map { i =>
          val rs = types.map(j => st(s"m_${i}_$j")).reduce(_ + _)
          i -> types.map(j => j -> st(s"m_${i}_$j") / rs).toMap
        }.toMap
        // column normalize
        types.flatMap { i =>
          types.map { j =>
            val cs = types.map(i2 => r(i2)(j)).reduce(_ + _)
            r(i)(j) / cs
          }
        }
      }
      val cur = tr.agg(cAggs.head, cAggs.tail: _*)
        .select(m.as("m"))
        .select(mNames.map(n => col(s"m.$n").as(n)): _*)
      val rowDevs = types.map { i =>
        abs(types.map(j => col(s"m_${i}_$j")).reduce(_ + _) - 1.0)
      }.reduce((a, b) => greatest(a, b))
      val colDevs = types.map { j =>
        abs(types.map(i => col(s"m_${i}_$j")).reduce(_ + _) - 1.0)
      }.reduce((a, b) => greatest(a, b))
      val minCell = (for { i <- types; j <- types }
        yield col(s"m_${i}_$j")).reduce((a, b) => least(a, b))
      val maxCell = (for { i <- types; j <- types }
        yield col(s"m_${i}_$j")).reduce((a, b) => greatest(a, b))
      cur.select(lit(10L).as("iterations"),
        round(rowDevs, 8).as("max_row_dev"),
        round(colDevs, 8).as("max_col_dev"),
        round(minCell, 6).as("min_cell"),
        round(maxCell, 6).as("max_cell"))
    }),

    "q582_revenue_mi" -> ((s, dir) => {
      // mutual information of the revenue distribution across segment ×
      // nation: how much knowing the nation tells you about which
      // segment the money sits in — the dependence-of-margins read
      // behind q456's shift-share. Bounded 5×25 cell grid in exact
      // cents.
      val cells = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"),
          col("c_nationkey").as("nk"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("c"))
      val tot = cells.agg(sum(col("c")).cast("double").as("tc"))
      val segM = cells.groupBy(col("sg"))
        .agg(sum(col("c")).as("cs"))
      val natM = cells.groupBy(col("nk"))
        .agg(sum(col("c")).as("cn"))
      val mi = cells.join(broadcast(segM), Seq("sg"))
        .join(broadcast(natM), Seq("nk"))
        .crossJoin(broadcast(tot))
        .agg(sum(col("c").cast("double") / col("tc") *
          log(col("c").cast("double") * col("tc") /
            (col("cs").cast("double") * col("cn").cast("double"))))
          .as("mi"))
      val hs = segM.crossJoin(broadcast(tot))
        .agg(sum(-(col("cs").cast("double") / col("tc")) *
          log(col("cs").cast("double") / col("tc"))).as("hs"))
      val hn = natM.crossJoin(broadcast(tot))
        .agg(sum(-(col("cn").cast("double") / col("tc")) *
          log(col("cn").cast("double") / col("tc"))).as("hn"))
      mi.crossJoin(broadcast(hs)).crossJoin(broadcast(hn))
        .select(round(col("mi"), 6).as("mi_nats"),
          round(col("hs"), 6).as("h_segment"),
          round(col("hn"), 6).as("h_nation"),
          round(col("mi") / least(col("hs"), col("hn")), 6)
            .as("normalized_mi"))
    }),

    "q583_piecewise_hazard" -> ((s, dir) => {
      // piecewise-exponential hazard of churn in the 0-30/31-60/61-90/
      // 90+ day bands: events over person-days of exposure per band —
      // where q533's single rate actually bends (the discrete hazard
      // profile under the KM curve). Band exposure by clamping, one
      // fixed 4× explode.
      val cust = survivalCohort(s, dir)
      val bands = s.createDataFrame(Seq((0L, 30L), (31L, 60L),
        (61L, 90L), (91L, 100000L))).toDF("lo", "hi")
      val e = cust.crossJoin(broadcast(bands))
        .filter(col("dur") >= col("lo"))
        .groupBy(col("lo"), col("hi"))
        .agg(sum(when(col("event") && col("dur") <= col("hi"), 1L)
          .otherwise(0L)).as("events"),
          sum(least(col("dur"), col("hi")) - col("lo") + 1)
            .as("exposure"))
      e.select(concat_ws("-", col("lo").cast("string"),
          when(col("hi") === 100000L, lit("plus"))
            .otherwise(col("hi").cast("string"))).as("band"),
          col("lo"), col("events"), col("exposure"),
          round(col("events").cast("double") /
            col("exposure") * 1000, 4).as("rate_per_1000_days"))
        .orderBy(col("lo"))
        .drop("lo")
    }),

    "q584_fano_curve" -> ((s, dir) => {
      // Fano factor (variance/mean of window counts) at 1-, 3-, and
      // 7-day aggregation — burstiness as a function of timescale (1 =
      // Poisson at every scale; growth with window = clustering), the
      // curve behind q272's single burstiness number. Day-index windows
      // from one rollup.
      val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      val idx = events(s, dir).crossJoin(broadcast(d0))
        .select(datediff(to_date(col("ts")), col("d0")).cast("long")
          .as("k"))
      val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(3L),
        Tuple1(7L))).toDF("w")
      val win = idx.crossJoin(broadcast(ks))
        .groupBy(col("w"), expr("k div w").as("win"))
        .agg(count(lit(1)).cast("double").as("c"))
      win.groupBy(col("w"))
        .agg(count(lit(1)).as("n_windows"), avg(col("c")).as("m"),
          (avg(col("c") * col("c")) - avg(col("c")) * avg(col("c")))
            .as("v"))
        .select(col("w").as("window_days"), col("n_windows"),
          round(col("m"), 2).as("mean_count"),
          round(col("v") / col("m"), 4).as("fano_factor"))
        .orderBy(col("window_days"))
    }),

    "q585_stationary_dist" -> ((s, dir) => {
      // stationary distribution of the event-type Markov chain (20
      // power iterations of x·P on the one-row 5-state frame, uniform
      // start, one Recurrence) compared with the OBSERVED type
      // frequencies — does the chain's equilibrium match the marginal
      // mix (the undamped companion to q134's PageRank)? Only the
      // transition rollup is data-sized.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tr = eventTransitions(s, dir)
      val rowTot = tr.groupBy(col("src")).agg(sum(col("c")).as("rt"))
      val p = tr.join(rowTot, Seq("src"))
        .select(col("src"), col("dst"), (col("c") / col("rt")).as("p"))
      val obs = events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("oc"))
      val obsTot = obs.agg(sum(col("oc")).as("ot"))
      val pAggs = for { i <- types; j <- types } yield
        coalesce(max(when(col("src") === i && col("dst") === j,
          col("p"))), lit(0.0)).as(s"p_${i}_$j")
      val x = Recurrence.iterate(types.map(i => s"x_$i" -> lit(0.2)), 20) {
        st => types.map { j =>
          types.map(i => st(s"x_$i") * col(s"p_${i}_$j")).reduce(_ + _)
        }
      }
      val cur = p.agg(pAggs.head, pAggs.tail: _*)
        .select(x.as("x"))
        .select(types.map(i => col(s"x.x_$i").as(s"x_$i")): _*)
      val obsShares = obs.crossJoin(broadcast(obsTot))
        .select(col("event_type"), (col("oc") / col("ot")).as("obsSh"))
      cur.selectExpr("stack(5, " + types.map(i =>
          s"'$i', round(x_$i, 6)").mkString(", ") +
          ") AS (event_type, stationary)")
        .join(obsShares, Seq("event_type"))
        .select(col("event_type"), col("stationary"),
          round(col("obsSh"), 6).as("observed_share"),
          round(col("stationary") - col("obsSh"), 6).as("diff"))
        .orderBy(col("event_type"))
    }),

    "q586_conversion_latency" -> ((s, dir) => {
      // signup→first-purchase latency percentiles (p25/50/75/90 at
      // exact ranks, hours): the DISTRIBUTION behind q100's funnel
      // conversion counts — how long activation actually takes. Two
      // per-user firsts + one global rank.
      val ev = events(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("ts0"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("tp"))
      val gaps = su.join(pu, Seq("user_id"))
        .filter(col("tp") >= col("ts0"))
        .groupBy(col("user_id"))
        .agg(((min(col("tp")) - first(col("ts0"))).cast("double") /
          3.6e9).as("h"))
      val ranked = graft.ops.PrefixSum.globalRank(
          gaps, Seq(col("h"), col("user_id")), "rk")
        .crossJoin(broadcast(gaps.agg(count(lit(1)).as("n"))))
      ranked.agg(first(col("n")).as("n"),
          max(when(col("rk") === expr("(n * 25) div 100"), col("h")))
            .as("p25"),
          max(when(col("rk") === expr("(n * 50) div 100"), col("h")))
            .as("p50"),
          max(when(col("rk") === expr("(n * 75) div 100"), col("h")))
            .as("p75"),
          max(when(col("rk") === expr("(n * 90) div 100"), col("h")))
            .as("p90"))
        .select(col("n").cast("long").as("n_converted"),
          round(col("p25"), 2).as("p25_hours"),
          round(col("p50"), 2).as("p50_hours"),
          round(col("p75"), 2).as("p75_hours"),
          round(col("p90"), 2).as("p90_hours"))
    }),

    "q587_trim_curve" -> ((s, dir) => {
      // trimmed-mean sensitivity curve: the balance mean at 0/5/10/25%
      // symmetric trims — how far outliers move the headline number
      // (the robustness SWEEP behind q387's single trim and q485's
      // Huber point). One rank, one conditional aggregate per trim.
      val base = customerBalanceCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      val trims = s.createDataFrame(Seq(Tuple1(0L), Tuple1(5L),
        Tuple1(10L), Tuple1(25L))).toDF("trim")
      ranked.crossJoin(broadcast(trims))
        .withColumn("k", expr("(n * trim) div 100"))
        .filter(col("rk") > col("k") && col("rk") <= col("n") - col("k"))
        .groupBy(col("trim"))
        .agg(count(lit(1)).as("n_kept"),
          (sum(col("v")).cast("double") / count(lit(1)) / 100.0)
            .as("m"))
        .select(col("trim").as("trim_pct"), col("n_kept"),
          round(col("m"), 4).as("trimmed_mean"))
        .orderBy(col("trim_pct"))
    }),

    "q588_conditional_survival" -> ((s, dir) => {
      // conditional survival: S(60|30) and S(90|60) from the q177 KM
      // sums — "given you made it this far" retention, the number
      // lifecycle teams actually quote. Same suffix-count machinery,
      // three conditional log-sums.
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
        .withColumn("lnS", log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")))
      val sv = risk.agg(
        exp(sum(when(col("dur") <= 30, col("lnS")).otherwise(0.0)))
          .as("s30"),
        exp(sum(when(col("dur") <= 60, col("lnS")).otherwise(0.0)))
          .as("s60"),
        exp(sum(when(col("dur") <= 90, col("lnS")).otherwise(0.0)))
          .as("s90"))
      sv.select(round(col("s30"), 6).as("s30"),
        round(col("s60"), 6).as("s60"), round(col("s90"), 6).as("s90"),
        round(col("s60") / col("s30"), 6).as("s60_given_30"),
        round(col("s90") / col("s60"), 6).as("s90_given_60"))
    }),

    "q589_monthly_concentration" -> ((s, dir) => {
      // calendar-month revenue concentration: per-month shares (pooled
      // across years), HHI of the monthly mix, peak/trough months —
      // how seasonal the book is (the revenue-weighted companion to
      // q182's count chi²). One month rollup.
      val m = t(s, dir, "orders")
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("rev"))
      val tot = m.agg(sum(col("rev")).as("tr"))
      val sh = m.crossJoin(broadcast(tot))
        .select(col("mo"), (col("rev") / col("tr")).as("p"))
      val hhi = sh.agg(sum(col("p") * col("p")).as("hhi"))
      val peak = sh.orderBy(col("p").desc, col("mo")).limit(1)
        .select(col("mo").cast("long").as("peak_month"),
          round(col("p"), 6).as("peak_share"))
      val trough = sh.orderBy(col("p").asc, col("mo")).limit(1)
        .select(col("mo").cast("long").as("trough_month"),
          round(col("p"), 6).as("trough_share"))
      hhi.crossJoin(broadcast(peak)).crossJoin(broadcast(trough))
        .select(round(col("hhi"), 6).as("monthly_hhi"),
          lit(math.rint(1.0 / 12.0 * 1e6) / 1e6).as("uniform_hhi"),
          col("peak_month"), col("peak_share"), col("trough_month"),
          col("trough_share"))
    }),

    "q590_ccdf_decades" -> ((s, dir) => {
      // survival-function (CCDF) points of customer spend at decade
      // thresholds $100..$1M — the raw log-log tail picture under
      // q262's Hill exponent. One spend rollup + a fixed 5× threshold
      // explode.
      val spend = customerOrderCents(s, dir)
      val n = spend.agg(count(lit(1)).cast("double").as("n"))
      val thr = s.createDataFrame(Seq(Tuple1(10000L), Tuple1(100000L),
        Tuple1(1000000L), Tuple1(10000000L), Tuple1(100000000L)))
        .toDF("t")
      spend.crossJoin(broadcast(thr)).crossJoin(broadcast(n))
        .groupBy(col("t"))
        .agg(first(col("n")).as("n2"),
          sum(when(col("cents") > col("t"), 1L).otherwise(0L))
            .as("n_above"))
        .select(expr("t div 100").as("threshold_dollars"),
          col("n_above"),
          round(col("n_above").cast("double") / col("n2"), 6)
            .as("ccdf"))
        .orderBy(col("threshold_dollars"))
    }),

    "q591_cagr" -> ((s, dir) => {
      // per-segment revenue CAGR between the corpus's first and last
      // full years: (last/first)^(1/years) − 1 — the growth headline
      // over q186's single-step YoY. Segment-year rollups collapse
      // map-side.
      val sy = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("sg"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .cast("double").as("rev"))
      val yrs = sy.agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
      val ends = sy.crossJoin(broadcast(yrs))
        .filter(col("yr") === col("y0") || col("yr") === col("y1"))
        .groupBy(col("sg"))
        .agg(first(col("y0")).as("y0"), first(col("y1")).as("y1"),
          max(when(col("yr") === col("y0"), col("rev"))).as("r0"),
          max(when(col("yr") === col("y1"), col("rev"))).as("r1"))
        .filter(col("r0") > 0 && col("r1") > 0)
      ends.select(col("sg").as("segment"),
          col("y0").as("first_year"), col("y1").as("last_year"),
          round(pow(col("r1") / col("r0"),
            lit(1.0) / (col("y1") - col("y0")).cast("double")) - 1.0, 6)
            .as("cagr"))
        .orderBy(col("segment"))
    }),

    "q592_arch_effect" -> ((s, dir) => {
      // ARCH-effect test: lag-1 autocorrelation of SQUARED daily
      // revenue log-returns with its √n z — volatility clustering (the
      // precondition any GARCH story needs; q508 tests breach timing,
      // this tests variance memory). Calendar-bounded lags, one moment
      // pass.
      val daily = dailyOrderRevenue(s, dir)
      val w = Window.orderBy(col("d"))
      val r2 = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("d"),
          (log(col("rev") / col("prev")) * log(col("rev") / col("prev")))
            .as("r2"))
      val pairs = r2.withColumn("p2", lag(col("r2"), 1).over(w))
        .filter(col("p2").isNotNull)
      val m = pairs.agg(count(lit(1)).cast("double").as("n"),
        (avg(col("r2") * col("p2")) - avg(col("r2")) * avg(col("p2")))
          .as("cov"),
        (avg(col("p2") * col("p2")) - avg(col("p2")) * avg(col("p2")))
          .as("v"))
      val rho = col("cov") / col("v")
      m.select(col("n").cast("long").as("n_days"),
        round(rho, 6).as("rho1_squared_returns"),
        round(rho * sqrt(col("n")), 4).as("z"),
        (abs(rho * sqrt(col("n"))) > 1.96).as("arch_effect_present"))
    }),

    "q593_weekday_revenue" -> ((s, dir) => {
      // trading-day revenue profile: mean daily revenue by ISO weekday
      // with the share of the weekly total — the revenue-weighted
      // calendar read next to q182's count test. One weekday rollup.
      val daily = dailyOrderRevenue(s, dir)
      val wd = daily
        .groupBy(dayofweek(col("d")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"),
          (avg(col("rev")) / 100.0).as("meanRev"))
      val tot = wd.agg(sum(col("meanRev")).as("tm"))
      wd.crossJoin(broadcast(tot))
        .select(col("dow").as("day_of_week"), col("n_days"),
          round(col("meanRev"), 2).as("mean_daily_revenue"),
          round(col("meanRev") / col("tm"), 6).as("profile_share"))
        .orderBy(col("day_of_week"))
    }),

    "q594_sla_attainment" -> ((s, dir) => {
      // fulfillment SLA attainment: share of lineitems shipped within
      // 30/60/90 days of order, per order priority — the commitments
      // table behind q196's lag stats. One priority rollup with three
      // conditional shares.
      val lag0 = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("pri"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lg"))
      lag0.groupBy(col("pri"))
        .agg(count(lit(1)).as("n_items"),
          (sum(when(col("lg") <= 30, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("w30"),
          (sum(when(col("lg") <= 60, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("w60"),
          (sum(when(col("lg") <= 90, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("w90"))
        .select(col("pri").as("priority"), col("n_items"),
          round(col("w30"), 4).as("within_30d"),
          round(col("w60"), 4).as("within_60d"),
          round(col("w90"), 4).as("within_90d"))
        .orderBy(col("priority"))
    }),

    "q595_weekday_envelope" -> ((s, dir) => {
      // weekday load envelope: p10/p50/p90 of the daily event count PER
      // weekday (exact within-group ranks) — the seasonal band an
      // anomaly detector should alert against, not the flat q135
      // threshold. One weekday-partitioned rank + conditional picks.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val wD = Window.partitionBy(col("dow")).orderBy(col("y"), col("d"))
      val ranked = daily.withColumn("rk", row_number().over(wD)
          .cast("long"))
        .join(daily.groupBy(col("dow")).agg(count(lit(1)).as("ng")),
          Seq("dow"))
      ranked.groupBy(col("dow"))
        .agg(first(col("ng")).as("n_days"),
          max(when(col("rk") === expr("greatest((ng * 10) div 100, 1)"),
            col("y"))).as("p10"),
          max(when(col("rk") === expr("greatest((ng * 50) div 100, 1)"),
            col("y"))).as("p50"),
          max(when(col("rk") === expr("greatest((ng * 90) div 100, 1)"),
            col("y"))).as("p90"))
        .select(col("dow").as("day_of_week"), col("n_days"),
          col("p10"), col("p50"), col("p90"))
        .orderBy(col("day_of_week"))
    }),

    "q596_memorylessness" -> ((s, dir) => {
      // memorylessness check on purchase interarrival gaps: P(X > s+t |
      // X > s) vs P(X > t) at s = t = the median gap — does the renewal
      // process actually behave exponentially (the assumption q533's
      // rate and q549's paradox both lean on)? One gap pass + exact
      // median + two tail counts.
      val p = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("t"), col("event_id"))
      val ranked = graft.ops.PrefixSum.globalRank(
        p, Seq(col("t"), col("event_id")), "rk")
      val prev = ranked.select((col("rk") + 1).as("rk"),
        col("t").as("prev"))
      val gaps = ranked.join(prev, Seq("rk"))
        .select(((col("t") - col("prev")).cast("double") / 1e6).as("g"))
        // lazy localCheckpoint (shared by the median ranks + tail
        // counts); blocks free with the result, no CacheManager entry
        .materialize
      // two-phase exact median: gaps carry microsecond resolution, so
      // the builtin percentile()'s value→count buffer would be
      // event-sized, not domain-bounded
      val med = graft.ops.PrefixSum.exactPercentiles(
        gaps, col("g"), Seq(0.5), Seq("m"))
      val m = gaps.crossJoin(broadcast(med))
        .agg(count(lit(1)).cast("double").as("n"),
          first(col("m")).as("m"),
          sum(when(col("g") > col("m"), 1L).otherwise(0L))
            .cast("double").as("gtS"),
          sum(when(col("g") > col("m") * 2, 1L).otherwise(0L))
            .cast("double").as("gt2S"))
      m.select(col("n").cast("long").as("n_gaps"),
        round(col("m"), 4).as("median_gap_s"),
        round(col("gt2S") / col("gtS"), 6).as("p_exceed_2s_given_s"),
        round(col("gtS") / col("n"), 6).as("p_exceed_s"),
        round(col("gt2S") / col("gtS") - col("gtS") / col("n"), 6)
          .as("memoryless_gap"))
    }),

    "q597_quartile_dispersion" -> ((s, dir) => {
      // quartile coefficient of dispersion (Q3−Q1)/(Q3+Q1) and
      // IQR/median for customer balances — the unit-free robust spread
      // scalars next to q135's MAD (which is absolute). Exact-rank
      // quartiles.
      val base = customerBalanceCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      val q = ranked.agg(first(col("n")).as("n"),
        max(when(col("rk") === expr("n div 4"), col("v"))).as("q1"),
        max(when(col("rk") === expr("n div 2"), col("v"))).as("q2"),
        max(when(col("rk") === expr("(n * 3) div 4"), col("v")))
          .as("q3"))
      q.select(col("n").cast("long").as("n_customers"),
        round(col("q1").cast("double") / 100.0, 2).as("q1"),
        round(col("q2").cast("double") / 100.0, 2).as("median"),
        round(col("q3").cast("double") / 100.0, 2).as("q3"),
        round((col("q3") - col("q1")).cast("double") /
          (col("q3") + col("q1")).cast("double"), 6).as("qcd"),
        round((col("q3") - col("q1")).cast("double") /
          col("q2").cast("double"), 6).as("iqr_over_median"))
    }),

    "q598_gamma_fit" -> ((s, dir) => {
      // Gamma(k, θ) method-of-moments fit of order values: shape from
      // mean²/variance, scale from variance/mean, with the implied
      // skewness 2/√k checked against the observed third moment — the
      // missing member of the parametric family (Weibull q394, Gumbel
      // q385, GPD q386). One moment aggregate.
      val v = t(s, dir, "orders")
        .select((expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .cast("double") / 100.0).as("v"))
      val m = v.agg(count(lit(1)).cast("double").as("n"),
        avg(col("v")).as("m1"), avg(col("v") * col("v")).as("m2"),
        avg(col("v") * col("v") * col("v")).as("m3"))
      val vr = col("m2") - col("m1") * col("m1")
      val k = col("m1") * col("m1") / vr
      val c3 = col("m3") - lit(3.0) * col("m1") * col("m2") +
        lit(2.0) * col("m1") * col("m1") * col("m1")
      val obsSkew = c3 / pow(vr, 1.5)
      m.select(col("n").cast("long").as("n_orders"),
        round(k, 4).as("shape_k"),
        round(vr / col("m1"), 2).as("scale_theta"),
        round(lit(2.0) / sqrt(k), 6).as("implied_skewness"),
        round(obsSkew, 6).as("observed_skewness"))
    }),

    "q599_tail_ratios" -> ((s, dir) => {
      // tail-ratio dispersion of customer spend: p99/p50 and p90/p10 at
      // exact ranks — the "how heavy is heavy" scalars quoted next to
      // q262's Hill exponent. One rank, one conditional aggregate.
      val spend = customerOrderCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          spend, Seq(col("cents"), col("o_custkey")), "rk")
        .crossJoin(broadcast(spend.agg(count(lit(1)).as("n"))))
      val q = ranked.agg(first(col("n")).as("n"),
        max(when(col("rk") === expr("greatest((n * 10) div 100, 1)"),
          col("cents"))).as("p10"),
        max(when(col("rk") === expr("n div 2"), col("cents")))
          .as("p50"),
        max(when(col("rk") === expr("(n * 90) div 100"), col("cents")))
          .as("p90"),
        max(when(col("rk") === expr("(n * 99) div 100"), col("cents")))
          .as("p99"))
      q.select(col("n").cast("long").as("n_customers"),
        round(col("p99").cast("double") / col("p50"), 4).as("p99_to_p50"),
        round(col("p90").cast("double") / col("p10"), 4).as("p90_to_p10"))
    }),

    "q600_kpi_dashboard" -> ((s, dir) => {
      // the q600 closer: ONE executive KPI row composed from the
      // suite's primitives — revenue, orders, active customers, AOV,
      // repeat rate, top segment by revenue, spend Gini, and 90-day
      // churn survival — the readout every dashboard in this gallery
      // ultimately feeds. Each KPI reuses a proven formulation (exact
      // cents, exact ranks, KM log-sums); the Gini's rank·cents sum
      // runs in DECIMAL (overflowed the long accumulator at the f30
      // relational scale-up — exact to 1e38, double on the finished
      // sums only).
      val orders = t(s, dir, "orders")
      val rev = orders.agg(
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("revc"), count(lit(1)).as("nOrders"),
        countDistinct(col("o_custkey")).as("nCust"))
      val rpt = orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("c"))
        .agg((sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("repeatRate"))
      val topSeg = orders
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("r"))
        .orderBy(col("r").desc, col("c_mktsegment")).limit(1)
        .select(col("c_mktsegment").as("topSegment"))
      val spend = orders.groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("x"))
      val gini = graft.ops.PrefixSum.globalRank(
          spend, Seq(col("x"), col("o_custkey")), "r")
        .agg(count(lit(1)).cast("double").as("gn"),
          sum(col("x").cast("decimal(18,0)")).cast("double").as("gs"),
          sum(col("r").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("double").as("grx"))
        .select((lit(2.0) * col("grx") / (col("gn") * col("gs")) -
          (col("gn") + 1) / col("gn")).as("gini"))
      val maxD = orders.agg(max(col("o_orderdate")).as("mx"))
      val cust = orders.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first"),
          max(col("o_orderdate")).as("last"))
        .crossJoin(broadcast(maxD))
        .select(datediff(col("last"), col("first")).cast("long")
          .as("dur"),
          (datediff(col("mx"), col("last")) > 90).as("event"))
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d"))
      val tot = byDur.agg(sum(col("c_all")).as("n_total"))
      val s90 = graft.ops.PrefixSum.groupedRunningSum(
          byDur.withColumn("__g", lit(1)), "__g", "dur", col("c_all"),
          "cum_all")
        .crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
        .filter(col("d") > 0 && col("n_risk") > col("d"))
        .agg(exp(sum(when(col("dur") <= 90,
          log((col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))).otherwise(0.0))).as("s90"))
      rev.crossJoin(broadcast(rpt)).crossJoin(broadcast(topSeg))
        .crossJoin(broadcast(gini)).crossJoin(broadcast(s90))
        .select(
          round(col("revc").cast("double") / 100.0, 2)
            .as("total_revenue"),
          col("nOrders").as("n_orders"), col("nCust").as("n_customers"),
          round(col("revc").cast("double") / col("nOrders") / 100.0, 2)
            .as("avg_order_value"),
          round(col("repeatRate"), 4).as("repeat_rate"),
          col("topSegment").as("top_segment"),
          round(col("gini"), 4).as("spend_gini"),
          round(col("s90"), 4).as("retention_s90"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q526_ou_halflife" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    ln(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE)) AS x
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT x, lag(x) OVER (ORDER BY d) AS xp FROM daily),
        |pp AS (SELECT * FROM pairs WHERE xp IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS my,
        |    avg(xp) AS mx, avg(xp * x) - avg(xp) * avg(x) AS cxy,
        |    avg(xp * xp) - avg(xp) * avg(xp) AS cxx
        |  FROM pp),
        |f AS (SELECT n, my, mx, cxy / cxx AS phi FROM m)
        |SELECT n AS n_days, round(phi, 6) AS phi,
        |  CASE WHEN phi > 0 THEN round(-ln(phi), 6) END
        |    AS theta_per_day,
        |  CASE WHEN phi > 0 THEN round(ln(2.0) / (-ln(phi)), 2) END
        |    AS halflife_days,
        |  round((my - phi * mx) / (1.0 - phi), 4) AS long_run_mean_log
        |FROM f""".stripMargin,

    "q527_platt_scaling" -> {
      val step = (i: Int) =>
        s"""ps${i}_ AS (SELECT
           |    sum((1.0/(1.0+exp(-(v.a*g0+v.b*g1))) - y)*g0)/count(*)
           |      AS ga,
           |    sum((1.0/(1.0+exp(-(v.a*g0+v.b*g1))) - y)*g1)/count(*)
           |      AS gb
           |  FROM fz, v${i - 1}_ v),
           |v${i}_ AS (SELECT v.a - 0.5*s.ga AS a, v.b - 0.5*s.gb AS b
           |  FROM v${i - 1}_ v, ps${i}_ s)""".stripMargin
      s"""WITH $lrCtes,
         |fz AS (SELECT y, 1.0 AS g0,
         |    (w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3) AS g1
         |  FROM feat, w3_ w),
         |v0_ AS (SELECT 0.0 AS a, 0.0 AS b),
         |${(1 to 3).map(step).mkString(",\n")},
         |br AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    avg((1.0/(1.0+exp(-g1)) - y) * (1.0/(1.0+exp(-g1)) - y))
         |      AS brier_raw,
         |    avg((1.0/(1.0+exp(-(v.a+v.b*g1))) - y) *
         |      (1.0/(1.0+exp(-(v.a+v.b*g1))) - y)) AS brier_platt
         |  FROM fz, v3_ v)
         |SELECT n_docs, (SELECT round(a, 6) FROM v3_) AS platt_a,
         |  (SELECT round(b, 6) FROM v3_) AS platt_b,
         |  round(brier_raw, 6) AS brier_raw,
         |  round(brier_platt, 6) AS brier_platt
         |FROM br""".stripMargin
    },

    "q528_rank_turbulence" ->
      s"""WITH toks AS (SELECT source, tok, count(*) AS c FROM (
         |    SELECT source, unnest($ntoksSql) AS tok FROM documents
         |    WHERE source IN ('src0', 'src1'))
         |  GROUP BY 1, 2),
         |ranked AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY c DESC, tok) AS DOUBLE) AS r
         |  FROM toks),
         |a AS (SELECT tok, r AS r1 FROM ranked WHERE source = 'src0'),
         |b AS (SELECT tok, r AS r2 FROM ranked WHERE source = 'src1')
         |SELECT a.tok, CAST(r1 AS BIGINT) AS rank_src0,
         |  CAST(r2 AS BIGINT) AS rank_src1,
         |  round(abs(1.0 / r1 - 1.0 / r2), 6) AS contribution
         |FROM a JOIN b USING (tok)
         |ORDER BY contribution DESC, tok LIMIT 8""".stripMargin,

    "q529_extremal_index" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r0 AS (SELECT d, ln(rev / lag(rev) OVER (ORDER BY d)) AS r
        |  FROM daily),
        |r AS (SELECT d, r,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx
        |  FROM r0 WHERE r IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |rk AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY r, d) AS BIGINT) AS rk
        |  FROM r),
        |u AS (SELECT r AS u FROM rk CROSS JOIN nn
        |  WHERE rk = (n * 95) // 100),
        |exc AS (SELECT idx FROM r CROSS JOIN u WHERE r.r > u),
        |ex2 AS (SELECT idx, lag(idx) OVER (ORDER BY idx) AS pidx
        |  FROM exc),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_exceed,
        |    CAST(sum(CASE WHEN pidx IS NULL OR idx - pidx > 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters
        |  FROM ex2)
        |SELECT (SELECT n FROM nn) AS n_obs,
        |  round((SELECT u FROM u), 6) AS threshold,
        |  n_exceed, n_clusters,
        |  round(CAST(n_clusters AS DOUBLE) / n_exceed, 4)
        |    AS extremal_index
        |FROM ag""".stripMargin,

    "q530_quantile_elbow" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS DOUBLE)
        |      / 100.0 AS x
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, ck) AS BIGINT) AS rk
        |  FROM base),
        |ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(2, 7) t(k)),
        |cl AS (SELECT k, ((rk - 1) * k) // n AS cl, x
        |  FROM r CROSS JOIN nn CROSS JOIN ks),
        |pc AS (SELECT k, cl, CAST(count(*) AS DOUBLE) AS nc,
        |    sum(x) AS sx, sum(x * x) AS sxx
        |  FROM cl GROUP BY 1, 2),
        |wc AS (SELECT k, sum(sxx - sx * sx / nc) AS wcss FROM pc
        |  GROUP BY 1),
        |lg AS (SELECT *, lag(wcss) OVER (ORDER BY k) AS prev FROM wc)
        |SELECT k, round(wcss, 2) AS wcss,
        |  CASE WHEN prev IS NOT NULL
        |    THEN round(1.0 - wcss / prev, 4) END AS improvement
        |FROM lg ORDER BY k""".stripMargin,

    "q531_cobb_douglas" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS revc,
        |    CAST(count(DISTINCT o_custkey) AS DOUBLE) AS nc,
        |    CAST(count(*) AS DOUBLE) AS no
        |  FROM orders GROUP BY 1),
        |xy AS (SELECT ln(revc / 100.0) AS y, ln(nc) AS x1,
        |    ln(no / nc) AS x2 FROM daily),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS my,
        |    avg(x1) AS m1, avg(x2) AS m2,
        |    avg(x1 * x1) - avg(x1) * avg(x1) AS s11,
        |    avg(x2 * x2) - avg(x2) * avg(x2) AS s22,
        |    avg(x1 * x2) - avg(x1) * avg(x2) AS s12,
        |    avg(x1 * y) - avg(x1) * avg(y) AS s1y,
        |    avg(x2 * y) - avg(x2) * avg(y) AS s2y,
        |    avg(y * y) - avg(y) * avg(y) AS syy
        |  FROM xy),
        |f AS (SELECT *,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
        |  FROM m)
        |SELECT n AS n_days, round(b1, 4) AS elasticity_customers,
        |  round(b2, 4) AS elasticity_orders_per_customer,
        |  round(my - b1 * m1 - b2 * m2, 4) AS intercept,
        |  round((b1 * s1y + b2 * s2y) / syy, 6) AS r2
        |FROM f""".stripMargin,

    "q532_setar" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    ln(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT)) AS DOUBLE)) AS x
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT x, lag(x) OVER (ORDER BY d) AS xp FROM daily),
        |pp AS (SELECT x, xp FROM pairs WHERE xp IS NOT NULL),
        |med AS (SELECT median(xp) AS med FROM pp),
        |reg AS (SELECT *, xp > med AS hi FROM pp CROSS JOIN med),
        |fl AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(xp * x) - avg(xp) * avg(x) AS cxy,
        |    avg(xp * xp) - avg(xp) * avg(xp) AS cxx,
        |    avg(x * x) - avg(x) * avg(x) AS cyy
        |  FROM reg WHERE NOT hi),
        |fl2 AS (SELECT n AS nl, cxy / cxx AS phil,
        |    n * (cyy - cxy * cxy / cxx) AS ssel FROM fl),
        |fh AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(xp * x) - avg(xp) * avg(x) AS cxy,
        |    avg(xp * xp) - avg(xp) * avg(xp) AS cxx,
        |    avg(x * x) - avg(x) * avg(x) AS cyy
        |  FROM reg WHERE hi),
        |fh2 AS (SELECT n AS nh, cxy / cxx AS phih,
        |    n * (cyy - cxy * cxy / cxx) AS sseh FROM fh),
        |fp AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(xp * x) - avg(xp) * avg(x) AS cxy,
        |    avg(xp * xp) - avg(xp) * avg(xp) AS cxx,
        |    avg(x * x) - avg(x) * avg(x) AS cyy
        |  FROM reg),
        |fp2 AS (SELECT n * (cyy - cxy * cxy / cxx) AS ssep FROM fp)
        |SELECT CAST(nl AS BIGINT) AS n_low,
        |  CAST(nh AS BIGINT) AS n_high,
        |  round(phil, 4) AS phi_low, round(phih, 4) AS phi_high,
        |  round(((ssep - ssel - sseh) / 2) /
        |    ((ssel + sseh) / (nl + nh - 4)), 4) AS f_stat
        |FROM fl2 CROSS JOIN fh2 CROSS JOIN fp2""".stripMargin,

    "q533_exponential_survival" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o_orderdate), min(mx.mx)) > 90 AS event
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS d,
        |    CAST(sum(dur) AS DOUBLE) AS expo
        |  FROM cust),
        |f AS (SELECT *, d / expo AS lam FROM m)
        |SELECT n AS n_customers, CAST(d AS BIGINT) AS n_events,
        |  round(lam * 1000, 6) AS lambda_per_1000_days,
        |  round(1.0 / lam, 2) AS mean_lifetime_days,
        |  round(exp(-lam * 30), 6) AS s30,
        |  round(exp(-lam * 60), 6) AS s60,
        |  round(exp(-lam * 90), 6) AS s90
        |FROM f""".stripMargin,

    "q534_oc_curve" ->
      """WITH obs AS (SELECT
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS obsrate
        |  FROM lineitem),
        |grid AS (SELECT CAST(g AS BIGINT) AS g,
        |    CAST(g AS DOUBLE) / 100.0 AS p
        |  FROM range(1, 11) t(g)),
        |c AS (SELECT g, p,
        |    pow(1.0 - p, 50.0) + 50.0 * p * pow(1.0 - p, 49.0)
        |    + 1225.0 * p * p * pow(1.0 - p, 48.0) AS pa
        |  FROM grid)
        |SELECT g AS defect_pct, round(pa, 6) AS p_accept,
        |  round((SELECT obsrate FROM obs), 6) AS observed_defect_rate
        |FROM c ORDER BY defect_pct""".stripMargin,

    "q535_winsorized_corr" ->
      """WITH base AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      AS DOUBLE) / 100.0 AS x,
        |    CAST(l_quantity AS DOUBLE) AS y
        |  FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |rx AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, ok, ln) AS BIGINT)
        |      AS rkx
        |  FROM base),
        |cx AS (SELECT
        |    max(CASE WHEN rkx = (n * 5) // 100 THEN x END) AS xlo,
        |    max(CASE WHEN rkx = (n * 95) // 100 THEN x END) AS xhi
        |  FROM rx CROSS JOIN nn),
        |ry AS (SELECT y,
        |    CAST(row_number() OVER (ORDER BY y, ok, ln) AS BIGINT)
        |      AS rky
        |  FROM base),
        |cy AS (SELECT
        |    max(CASE WHEN rky = (n * 5) // 100 THEN y END) AS ylo,
        |    max(CASE WHEN rky = (n * 95) // 100 THEN y END) AS yhi
        |  FROM ry CROSS JOIN nn),
        |wz AS (SELECT x, y,
        |    least(greatest(x, xlo), xhi) AS wx,
        |    least(greatest(y, ylo), yhi) AS wy
        |  FROM base CROSS JOIN cx CROSS JOIN cy),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    (avg(x*y) - avg(x)*avg(y)) /
        |      sqrt((avg(x*x) - avg(x)*avg(x)) *
        |        (avg(y*y) - avg(y)*avg(y))) AS raw,
        |    (avg(wx*wy) - avg(wx)*avg(wy)) /
        |      sqrt((avg(wx*wx) - avg(wx)*avg(wx)) *
        |        (avg(wy*wy) - avg(wy)*avg(wy))) AS wins
        |  FROM wz)
        |SELECT n_rows, round(raw, 6) AS corr_raw,
        |  round(wins, 6) AS corr_winsorized
        |FROM m""".stripMargin,

    "q536_beta_diversity" ->
      s"""WITH toks AS (SELECT source, unnest($ntoksSql) AS tok
         |  FROM documents),
         |al AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |    avg(CAST(a AS DOUBLE)) AS alphamean FROM (
         |    SELECT source, count(*) AS a FROM (
         |      SELECT DISTINCT source, tok FROM toks) GROUP BY 1)),
         |ga AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS gamma
         |  FROM toks)
         |SELECT n_sources, CAST(gamma AS BIGINT) AS gamma_tokens,
         |  round(alphamean, 2) AS alpha_mean,
         |  round(gamma / alphamean - 1.0, 6) AS whittaker_beta
         |FROM al CROSS JOIN ga""".stripMargin,

    "q537_dunn_index" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT v,
        |    CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT) AS rk
        |  FROM base),
        |cl AS (SELECT ((rk - 1) * 5) // n AS cl, v
        |  FROM r CROSS JOIN nn),
        |ext AS (SELECT cl, CAST(min(v) AS BIGINT) AS mn,
        |    CAST(max(v) AS BIGINT) AS mx FROM cl GROUP BY 1),
        |g AS (SELECT *, mn - lag(mx) OVER (ORDER BY cl) AS gap
        |  FROM ext),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        |    min(gap) AS mingap, max(mx - mn) AS maxwidth FROM g)
        |SELECT n_clusters,
        |  round(CAST(mingap AS DOUBLE) / 100.0, 2) AS min_gap,
        |  round(CAST(maxwidth AS DOUBLE) / 100.0, 2) AS max_width,
        |  round(CAST(mingap AS DOUBLE) / maxwidth, 6) AS dunn_index
        |FROM ag""".stripMargin,

    "q538_c_chart" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    avg(c) AS cbar FROM daily),
        |fl AS (SELECT min(n_days) AS n_days, min(cbar) AS cbar,
        |    CAST(sum(CASE WHEN c > cbar + 3.0 * sqrt(cbar)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nab,
        |    CAST(sum(CASE WHEN c < greatest(0.0,
        |      cbar - 3.0 * sqrt(cbar)) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nbe
        |  FROM daily CROSS JOIN st)
        |SELECT n_days, round(cbar, 4) AS c_bar,
        |  round(cbar + 3.0 * sqrt(cbar), 4) AS ucl,
        |  round(greatest(0.0, cbar - 3.0 * sqrt(cbar)), 4) AS lcl,
        |  nab AS n_above_ucl, nbe AS n_below_lcl
        |FROM fl""".stripMargin,

    "q539_lof_grid" ->
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
        |prs AS (SELECT a.sk AS pa, b.sk AS pb
        |  FROM base a JOIN expd b ON a.cx = b.cx AND a.cy = b.cy
        |    AND a.sk <> b.sk
        |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 3600000000),
        |dens AS (SELECT pa AS sk, CAST(count(*) AS DOUBLE) AS dens
        |  FROM prs GROUP BY 1),
        |lof AS (SELECT p.pa AS sk, avg(d2v.dens) AS avgnd
        |  FROM prs p JOIN dens d2v ON p.pb = d2v.sk GROUP BY 1),
        |j AS (SELECT l.sk, d.dens, l.avgnd
        |  FROM lof l JOIN dens d USING (sk))
        |SELECT sk, CAST(dens AS BIGINT) AS density,
        |  round(avgnd, 4) AS avg_neighbor_density,
        |  round(avgnd / dens, 6) AS lof_ratio
        |FROM j ORDER BY round(avgnd / dens, 6) DESC, sk LIMIT 10"""
        .stripMargin,

    "q540_mincer_zarnowitz" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |fc0 AS (SELECT y, avg(y) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f
        |  FROM daily),
        |fc AS (SELECT f, y FROM fc0 WHERE f IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(f) AS mf,
        |    avg(y) AS my, avg(f * y) - avg(f) * avg(y) AS cfy,
        |    avg(f * f) - avg(f) * avg(f) AS cff,
        |    avg(y * y) - avg(y) * avg(y) AS cyy,
        |    sum((y - f) * (y - f)) AS rssr
        |  FROM fc),
        |c AS (SELECT *, cfy / cff AS b, my - cfy / cff * mf AS a,
        |    n * (cyy - cfy * cfy / cff) AS rssu FROM m),
        |f2 AS (SELECT *, ((rssr - rssu) / 2) / (rssu / (n - 2))
        |      AS fstat FROM c)
        |SELECT CAST(n AS BIGINT) AS n_days, round(a, 4) AS intercept,
        |  round(b, 4) AS slope, round(fstat, 4) AS f_stat,
        |  fstat < 3.35 AS rational_at_5pct
        |FROM f2""".stripMargin,

    "q541_growth_incidence" ->
      """WITH spend AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |ny AS (SELECT yr, CAST(count(*) AS BIGINT) AS ny FROM spend
        |  GROUP BY 1),
        |r AS (SELECT s.*, ny.ny,
        |    CAST(row_number() OVER (PARTITION BY s.yr
        |      ORDER BY cents, o_custkey) AS BIGINT) AS rk
        |  FROM spend s JOIN ny ON s.yr = ny.yr),
        |d AS (SELECT yr, ((rk - 1) * 10) // ny AS dec, cents FROM r),
        |bd AS (SELECT yr, dec, CAST(sum(cents) AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS nc
        |  FROM d GROUP BY 1, 2),
        |mm AS (SELECT yr, dec, CAST(c AS DOUBLE) / nc / 100.0 AS m
        |  FROM bd),
        |a AS (SELECT dec, m AS m95 FROM mm WHERE yr = 1995),
        |b AS (SELECT dec, m AS m96 FROM mm WHERE yr = 1996)
        |SELECT a.dec AS decile, round(m95, 2) AS mean_spend_1995,
        |  round(m96, 2) AS mean_spend_1996,
        |  round(m96 / m95 - 1.0, 6) AS growth
        |FROM a JOIN b USING (dec) ORDER BY decile""".stripMargin,

    "q542_score_ks" ->
      s"""WITH $lrCtes,
         |pts AS (SELECT p,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cpos,
         |    CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cneg
         |  FROM scored GROUP BY 1),
         |cum AS (SELECT *,
         |    CAST(sum(cpos) OVER (ORDER BY p) AS BIGINT) AS cp,
         |    CAST(sum(cneg) OVER (ORDER BY p) AS BIGINT) AS cn
         |  FROM pts),
         |tot AS (SELECT CAST(sum(cpos) AS DOUBLE) AS np,
         |    CAST(sum(cneg) AS DOUBLE) AS nn FROM pts),
         |gaps AS (SELECT p, np, nn,
         |    round(abs(CAST(cp AS DOUBLE) / np -
         |      CAST(cn AS DOUBLE) / nn), 6) AS gap
         |  FROM cum CROSS JOIN tot),
         |e AS (SELECT * FROM gaps ORDER BY gap DESC, p LIMIT 1)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT)
         |    AS n_neg,
         |  round(p, 6) AS at_score, gap AS ks_stat
         |FROM e""".stripMargin,

    "q543_sign_test" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s95,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s96
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |pp AS (SELECT * FROM spend
        |  WHERE s95 > 0 AND s96 > 0 AND s96 <> s95),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN s96 > s95 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS npos
        |  FROM pp),
        |zc AS (SELECT *, (abs(npos * 2 - n) - 1) / sqrt(n) AS z
        |  FROM m),
        |xt AS (SELECT *, z / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (z / sqrt(2.0))) AS tt FROM zc)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  CAST(npos AS BIGINT) AS n_increased,
        |  CAST(n - npos AS BIGINT) AS n_decreased, round(z, 6) AS z,
        |  round((0.254829592 * tt - 0.284496736 * tt * tt
        |    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt
        |    * tt + 1.061405429 * tt * tt * tt * tt * tt) * exp(-x * x),
        |    6) AS p_two_sided
        |FROM xt""".stripMargin,

    "q544_delta_lognormal" ->
      """WITH oc AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |base AS (SELECT COALESCE(oc.cents, 0) AS cents
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN cents > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS nz,
        |    avg(CAST(cents AS DOUBLE) / 100.0) AS plain,
        |    avg(CASE WHEN cents > 0
        |      THEN ln(CAST(cents AS DOUBLE) / 100.0) END) AS mu,
        |    avg(CASE WHEN cents > 0
        |      THEN ln(CAST(cents AS DOUBLE) / 100.0) *
        |        ln(CAST(cents AS DOUBLE) / 100.0) END) AS m2
        |  FROM base),
        |f AS (SELECT *, m2 - mu * mu AS s2 FROM m)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(nz / n, 6) AS p_nonzero, round(mu, 4) AS mu_log,
        |  round(s2, 4) AS sigma2_log,
        |  round(nz / n * exp(mu + s2 / 2), 2) AS delta_lognormal_mean,
        |  round(plain, 2) AS plain_mean
        |FROM f""".stripMargin,

    "q545_diversification_ratio" -> {
      val types = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")
      val rAggs = types.map(sg =>
        s"CAST(sum(CASE WHEN c.c_mktsegment = '$sg' THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE) AS r_$sg")
        .mkString(",\n    ")
      val pos = types.map(sg => s"r_$sg > 0").mkString(" AND ")
      val xCols = types.map(sg =>
        s"ln(r_$sg) - ln(lag(r_$sg) OVER (ORDER BY d)) AS x_$sg")
        .mkString(",\n    ")
      val xpSum = types.map(sg => s"x_$sg").mkString(" + ")
      val sCols = types.map(sg =>
        s"sqrt(avg(x_$sg * x_$sg) - avg(x_$sg) * avg(x_$sg)) AS s_$sg")
        .mkString(",\n    ")
      val sSum = types.map(sg => s"s_$sg").mkString(" + ")
      s"""WITH daily AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
         |    $rAggs
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |  GROUP BY 1),
         |dd AS (SELECT * FROM daily WHERE $pos),
         |rets AS (SELECT d,
         |    $xCols
         |  FROM dd),
         |rr AS (SELECT *, ($xpSum) / 5.0 AS xp FROM rets
         |  WHERE x_${types.head} IS NOT NULL),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    $sCols,
         |    sqrt(avg(xp * xp) - avg(xp) * avg(xp)) AS sp
         |  FROM rr)
         |SELECT n AS n_days, round(($sSum) / 5.0, 6) AS avg_vol,
         |  round(sp, 6) AS portfolio_vol,
         |  round(($sSum) / 5.0 / sp, 4) AS diversification_ratio
         |FROM m""".stripMargin
    },

    "q546_paf" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_acctbal > 5000.0 AS e,
        |    COALESCE(oc.cnt, 0) >= 3 AS o
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS DOUBLE) AS ne,
        |    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS a,
        |    CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS c
        |  FROM base),
        |f AS (SELECT *, ne / n AS pe,
        |    (a / ne) / (c / (n - ne)) AS rr FROM m)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(pe, 4) AS p_exposed, round(rr, 4) AS rr,
        |  round(pe * (rr - 1) / (1.0 + pe * (rr - 1)), 6) AS paf,
        |  round((rr - 1) / rr, 6) AS af_exposed
        |FROM f""".stripMargin,

    "q547_median_survival" ->
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
        |g2 AS (SELECT *, surv * sqrt(gsum) AS se FROM km),
        |ag AS (SELECT
        |    min(CASE WHEN surv <= 0.5 THEN dur END) AS median,
        |    min(CASE WHEN surv + 1.96 * se <= 0.5 THEN dur END)
        |      AS cilo,
        |    min(CASE WHEN surv - 1.96 * se <= 0.5 THEN dur END)
        |      AS cihi
        |  FROM g2)
        |SELECT (SELECT n_total FROM tot) AS n_customers,
        |  median AS median_survival_days, cihi AS ci_lo_days,
        |  cilo AS ci_hi_days
        |FROM ag""".stripMargin,

    "q548_bayes_factor" -> {
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
         |${(1 to 3).map(step).mkString(",\n")},
         |yb AS (SELECT avg(y) AS ybar FROM dx),
         |ll AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(y * (a + b * x) - exp(a + b * x)) AS ll1,
         |    sum(y * ln(ybar) - ybar) AS ll0
         |  FROM dx CROSS JOIN p3_ CROSS JOIN yb),
         |f AS (SELECT *, ((-2.0 * ll0 + ln(n)) -
         |    (-2.0 * ll1 + 2.0 * ln(n))) / 2.0 / ln(10.0) AS l10
         |  FROM ll)
         |SELECT CAST(n AS BIGINT) AS n_days, round(ll0, 2) AS ll_null,
         |  round(ll1, 2) AS ll_weekend,
         |  round(l10, 4) AS log10_bayes_factor,
         |  CASE WHEN l10 > 1.0 THEN 'strong'
         |       WHEN l10 > 0.5 THEN 'substantial'
         |       ELSE 'weak' END AS evidence_for_weekend
         |FROM f""".stripMargin
    },

    "q549_inspection_paradox" ->
      """WITH p AS (SELECT epoch_us(ts) AS t, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY t, event_id) AS BIGINT)
        |      AS rk
        |  FROM p),
        |gaps AS (SELECT CAST(a.t - b.t AS DOUBLE) / 1e6 AS g
        |  FROM r a JOIN r b ON a.rk = b.rk + 1),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(g) AS sx,
        |    sum(g * g) AS sxx FROM gaps),
        |f AS (SELECT *, sx / n AS mean, sxx / sx AS lb,
        |    (sxx / n - (sx / n) * (sx / n)) / ((sx / n) * (sx / n))
        |      AS cv2
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_gaps,
        |  round(mean, 4) AS mean_gap_s,
        |  round(lb, 4) AS length_biased_mean_s,
        |  round(lb / mean, 6) AS ratio,
        |  round(1.0 + cv2, 6) AS one_plus_cv2
        |FROM f""".stripMargin,

    "q550_er_evaluation" ->
      s"""WITH $ngramPairsCtes,
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM documents),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS np,
         |    CAST(sum(CASE WHEN idB = idA + 100000 THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS tp
         |  FROM pairs)
         |SELECT CAST(np AS BIGINT) AS n_predicted,
         |  CAST(nt AS BIGINT) AS n_truth,
         |  CAST(tp AS BIGINT) AS true_positives,
         |  round(tp / np, 6) AS precision,
         |  round(tp / nt, 6) AS recall,
         |  round(2.0 * (tp / np) * (tp / nt) / (tp / np + tp / nt), 6)
         |    AS f1
         |FROM m CROSS JOIN nt""".stripMargin,

    "q551_zero_truncated_poisson" -> {
      val step = (i: Int) =>
        s"""l${i}_ AS (SELECT na, mbar,
           |    lam - (lam / (1.0 - exp(-lam)) - mbar) /
           |      ((1.0 - exp(-lam) - lam * exp(-lam)) /
           |        ((1.0 - exp(-lam)) * (1.0 - exp(-lam)))) AS lam
           |  FROM l${i - 1}_)""".stripMargin
      s"""WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
         |  GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS na,
         |    avg(CAST(cnt AS DOUBLE)) AS mbar FROM oc),
         |act AS (SELECT CAST(count(*) AS DOUBLE) AS nc,
         |    CAST(sum(CASE WHEN oc.cnt IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS nz
         |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
         |l0_ AS (SELECT na, mbar, mbar AS lam FROM m),
         |${(1 to 4).map(step).mkString(",\n")}
         |SELECT CAST(na AS BIGINT) AS n_active,
         |  round(mbar, 4) AS mean_orders_active,
         |  round(lam, 6) AS lambda_hat,
         |  round(exp(-lam), 6) AS implied_zero_share,
         |  round((SELECT nz / nc FROM act), 6) AS actual_zero_share
         |FROM l4_""".stripMargin
    },

    "q552_gph_long_memory" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |mu AS (SELECT avg(y) AS mu, CAST(count(*) AS DOUBLE) AS nn
        |  FROM daily),
        |rn AS (SELECT y,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rk
        |  FROM daily),
        |ks AS (SELECT CAST(k AS DOUBLE) AS k FROM range(1, 9) t(k)),
        |terms AS (SELECT k, nn,
        |    (y - mu) * cos(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS cr,
        |    (y - mu) * sin(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS ci
        |  FROM rn CROSS JOIN mu CROSS JOIN ks),
        |perio AS (SELECT k, min(nn) AS nn, sum(cr) AS sc,
        |    sum(ci) AS ss
        |  FROM terms GROUP BY 1),
        |p2 AS (SELECT k, nn, (sc * sc + ss * ss) / nn AS ik
        |  FROM perio),
        |reg AS (SELECT ln(ik) AS ly,
        |    ln(4.0 * sin(pi() * k / nn) * sin(pi() * k / nn)) AS lx
        |  FROM p2),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m_freqs,
        |    (avg(lx * ly) - avg(lx) * avg(ly)) /
        |      (avg(lx * lx) - avg(lx) * avg(lx)) AS slope,
        |    (avg(lx * ly) - avg(lx) * avg(ly)) *
        |      (avg(lx * ly) - avg(lx) * avg(ly)) /
        |      ((avg(lx * lx) - avg(lx) * avg(lx)) *
        |        (avg(ly * ly) - avg(ly) * avg(ly))) AS r2
        |  FROM reg)
        |SELECT m_freqs, round(-slope, 6) AS d_hat, round(r2, 6) AS r2
        |FROM m2""".stripMargin,

    "q553_von_neumann" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |l AS (SELECT y, lag(y) OVER (ORDER BY d) AS yp FROM daily),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(CASE WHEN yp IS NOT NULL
        |      THEN (y - yp) * (y - yp) ELSE 0.0 END) AS ssd,
        |    avg(y) AS mu, sum(y * y) AS syy
        |  FROM l),
        |f AS (SELECT *, (ssd / (n - 1)) /
        |    ((syy - n * mu * mu) / (n - 1)) AS vn FROM m),
        |z2 AS (SELECT *, (vn - 2) /
        |    sqrt(4.0 * (n - 2) / ((n + 1) * (n - 1))) AS z FROM f)
        |SELECT CAST(n AS BIGINT) AS n_days, round(vn, 6) AS vn_ratio,
        |  round(z, 6) AS z,
        |  CASE WHEN z < -1.96 THEN 'trending'
        |       WHEN z > 1.96 THEN 'oscillating'
        |       ELSE 'independent' END AS verdict
        |FROM z2""".stripMargin,

    "q554_rank_mobility" ->
      """WITH spend AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |bth AS (SELECT o_custkey FROM spend GROUP BY 1
        |  HAVING count(*) = 2),
        |act AS (SELECT s.* FROM spend s JOIN bth USING (o_custkey)),
        |ny AS (SELECT yr, CAST(count(*) AS BIGINT) AS ny2 FROM act
        |  GROUP BY 1),
        |r AS (SELECT a.*, ny.ny2,
        |    CAST(row_number() OVER (PARTITION BY a.yr
        |      ORDER BY cents, o_custkey) AS BIGINT) AS rk
        |  FROM act a JOIN ny ON a.yr = ny.yr),
        |q AS (SELECT yr, o_custkey, ((rk - 1) * 5) // ny2 AS qn
        |  FROM r),
        |a AS (SELECT o_custkey, qn AS q95 FROM q WHERE yr = 1995),
        |b AS (SELECT o_custkey, qn AS q96 FROM q WHERE yr = 1996),
        |tr AS (SELECT q95, q96, CAST(count(*) AS BIGINT) AS n
        |  FROM a JOIN b USING (o_custkey) GROUP BY 1, 2),
        |rt AS (SELECT q95, CAST(sum(n) AS BIGINT) AS rt FROM tr
        |  GROUP BY 1)
        |SELECT tr.q95 AS quintile_1995, tr.q96 AS quintile_1996, tr.n,
        |  round(CAST(tr.n AS DOUBLE) / rt.rt, 4) AS row_share
        |FROM tr JOIN rt USING (q95)
        |ORDER BY quintile_1995, quintile_1996""".stripMargin,

    "q555_bowker_symmetry" ->
      """WITH spend AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |bth AS (SELECT o_custkey FROM spend GROUP BY 1
        |  HAVING count(*) = 2),
        |act AS (SELECT s.* FROM spend s JOIN bth USING (o_custkey)),
        |ny AS (SELECT yr, CAST(count(*) AS BIGINT) AS ny2 FROM act
        |  GROUP BY 1),
        |r AS (SELECT a.*, ny.ny2,
        |    CAST(row_number() OVER (PARTITION BY a.yr
        |      ORDER BY cents, o_custkey) AS BIGINT) AS rk
        |  FROM act a JOIN ny ON a.yr = ny.yr),
        |q AS (SELECT yr, o_custkey, ((rk - 1) * 5) // ny2 AS qn
        |  FROM r),
        |a AS (SELECT o_custkey, qn AS q95 FROM q WHERE yr = 1995),
        |b AS (SELECT o_custkey, qn AS q96 FROM q WHERE yr = 1996),
        |tr AS (SELECT q95, q96, CAST(count(*) AS BIGINT) AS n
        |  FROM a JOIN b USING (o_custkey) GROUP BY 1, 2),
        |up AS (SELECT q95 AS i, q96 AS j, n AS nij FROM tr
        |  WHERE q95 < q96),
        |dn AS (SELECT q96 AS i, q95 AS j, n AS nji FROM tr
        |  WHERE q95 > q96),
        |pr AS (SELECT COALESCE(up.nij, 0) AS nij,
        |    COALESCE(dn.nji, 0) AS nji
        |  FROM up FULL OUTER JOIN dn ON up.i = dn.i AND up.j = dn.j),
        |pf AS (SELECT * FROM pr WHERE nij + nji > 0),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS df,
        |    sum(CAST(nij - nji AS DOUBLE) * (nij - nji) /
        |      CAST(nij + nji AS DOUBLE)) AS chi2
        |  FROM pf)
        |SELECT round(chi2, 4) AS bowker_chi2, df,
        |  chi2 < 18.31 AS symmetric_at_5pct_df10
        |FROM ag""".stripMargin,

    "q556_fishers_alpha" -> {
      val step = (i: Int) =>
        s"""a${i}_ AS (SELECT ss, nn, f1,
           |    alpha - (alpha * ln(1.0 + nn / alpha) - ss) /
           |      (ln(1.0 + nn / alpha) - nn / (alpha + nn)) AS alpha
           |  FROM a${i - 1}_)""".stripMargin
      s"""WITH cnt AS (SELECT tok, count(*) AS c FROM (
         |    SELECT unnest($ntoksSql) AS tok FROM documents)
         |  GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS ss,
         |    CAST(sum(c) AS DOUBLE) AS nn,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS f1
         |  FROM cnt),
         |a0_ AS (SELECT ss, nn, f1, ss AS alpha FROM m),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT CAST(ss AS BIGINT) AS s_types,
         |  CAST(nn AS BIGINT) AS n_tokens,
         |  round(alpha, 4) AS fishers_alpha,
         |  round(alpha * nn / (nn + alpha), 2) AS predicted_singletons,
         |  CAST(f1 AS BIGINT) AS observed_singletons
         |FROM a5_""".stripMargin
    },

    "q557_hosmer_lemeshow" ->
      s"""WITH $lrCtes,
         |featd AS (SELECT doc_id, 1.0 AS f0,
         |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
         |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(text) AS DOUBLE) AS f2,
         |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |sc AS (SELECT doc_id, y,
         |    1.0/(1.0+exp(-(w.w0*f0+w.w1*f1+w.w2*f2+w.w3*f3))) AS p
         |  FROM featd, w3_ w),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
         |r AS (SELECT *,
         |    CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT)
         |      AS rk
         |  FROM sc),
         |bins AS (SELECT ((rk - 1) * 10) // n AS bin, y, p
         |  FROM r CROSS JOIN nn),
         |bb AS (SELECT bin, CAST(count(*) AS DOUBLE) AS nb,
         |    sum(y) AS o, sum(p) AS e
         |  FROM bins GROUP BY 1),
         |tt AS (SELECT bin, (o - e) * (o - e) /
         |    (nb * (e / nb) * (1.0 - e / nb)) AS term FROM bb),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
         |    sum(term) AS hl FROM tt)
         |SELECT n_bins, round(hl, 4) AS hl_chi2,
         |  CAST(8 AS BIGINT) AS df,
         |  hl < 15.51 AS calibrated_at_5pct
         |FROM ag""".stripMargin,

    "q558_lorenz_asymmetry" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(cents) AS DOUBLE) AS tc FROM spend),
        |m AS (SELECT min(n) AS n, min(tc) AS tc,
        |    CAST(sum(CASE WHEN CAST(cents AS DOUBLE) * n < tc
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS below,
        |    CAST(sum(CASE WHEN CAST(cents AS DOUBLE) * n < tc
        |      THEN cents ELSE 0 END) AS DOUBLE) AS belowc
        |  FROM spend CROSS JOIN tot),
        |f AS (SELECT *, below / n AS f, belowc / tc AS l FROM m)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(f, 6) AS f_at_mean, round(l, 6) AS l_at_mean,
        |  round(f + l, 6) AS lorenz_asymmetry,
        |  CASE WHEN f + l > 1.0 THEN 'few_large_units'
        |    ELSE 'many_small_units' END AS inequality_driver
        |FROM f""".stripMargin,

    "q559_spectral_flatness" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |mu AS (SELECT avg(y) AS mu, CAST(count(*) AS DOUBLE) AS nn
        |  FROM daily),
        |rn AS (SELECT y,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rk
        |  FROM daily),
        |ks AS (SELECT CAST(k AS DOUBLE) AS k FROM range(1, 15) t(k)),
        |terms AS (SELECT k, nn,
        |    (y - mu) * cos(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS cr,
        |    (y - mu) * sin(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS ci
        |  FROM rn CROSS JOIN mu CROSS JOIN ks),
        |perio AS (SELECT k, min(nn) AS nn, sum(cr) AS sc,
        |    sum(ci) AS ss
        |  FROM terms GROUP BY 1),
        |p2 AS (SELECT (sc * sc + ss * ss) / nn AS ik FROM perio),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS m_freqs,
        |    avg(ln(ik)) AS mlog, avg(ik) AS mar FROM p2)
        |SELECT m_freqs, round(exp(mlog), 4) AS geometric_mean,
        |  round(mar, 4) AS arithmetic_mean,
        |  round(exp(mlog) / mar, 6) AS spectral_flatness
        |FROM ag""".stripMargin,

    "q560_hoover_index" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS tc FROM spend),
        |m AS (SELECT min(n) AS n, min(tc) AS tc,
        |    CAST(sum(abs(cents * n - tc)) AS BIGINT) AS sabs
        |  FROM spend CROSS JOIN tot)
        |SELECT n AS n_customers,
        |  round(CAST(sabs AS DOUBLE) /
        |    (2.0 * CAST(tc AS DOUBLE) * CAST(n AS DOUBLE)), 6)
        |    AS hoover_index
        |FROM m""".stripMargin,

    "q561_german_tank" ->
      s"""WITH samp AS (SELECT DISTINCT l_partkey FROM lineitem
         |  WHERE (${graft.ops.Sampling
        .keyHashSql("(l_orderkey * 10 + l_linenumber)")}) % 100 < 5),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS k,
         |    CAST(max(l_partkey) AS DOUBLE) AS m FROM samp),
         |act AS (SELECT CAST(max(p_partkey) AS DOUBLE) AS actual
         |  FROM part),
         |f AS (SELECT *, m * (1.0 + 1.0 / k) - 1 AS est
         |  FROM m CROSS JOIN act)
         |SELECT CAST(k AS BIGINT) AS k_sampled_serials,
         |  CAST(m AS BIGINT) AS max_observed,
         |  round(est, 2) AS estimated_population,
         |  CAST(actual AS BIGINT) AS actual_population,
         |  round((est - actual) / actual * 100, 4) AS error_pct
         |FROM f""".stripMargin,

    "q562_spell_lengths" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |med AS (SELECT median(y) AS med FROM daily),
        |fl AS (SELECT d, y > med AS above,
        |    row_number() OVER (ORDER BY d) AS rnall
        |  FROM daily CROSS JOIN med),
        |ab AS (SELECT *, row_number() OVER (ORDER BY d) AS rnabove
        |  FROM fl WHERE above),
        |sp AS (SELECT rnall - rnabove AS island,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM ab GROUP BY 1)
        |SELECT len AS spell_length, CAST(count(*) AS BIGINT)
        |    AS n_spells
        |FROM sp GROUP BY 1 ORDER BY spell_length""".stripMargin,

    "q563_fishers_g" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |mu AS (SELECT avg(y) AS mu, CAST(count(*) AS DOUBLE) AS nn
        |  FROM daily),
        |rn AS (SELECT y,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rk
        |  FROM daily),
        |ks AS (SELECT CAST(k AS DOUBLE) AS k FROM range(1, 15) t(k)),
        |terms AS (SELECT k, nn,
        |    (y - mu) * cos(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS cr,
        |    (y - mu) * sin(2.0 * pi() * k *
        |      CAST(rk - 1 AS DOUBLE) / nn) AS ci
        |  FROM rn CROSS JOIN mu CROSS JOIN ks),
        |perio AS (SELECT k, min(nn) AS nn, sum(cr) AS sc,
        |    sum(ci) AS ss
        |  FROM terms GROUP BY 1),
        |p2k AS (SELECT k, (sc * sc + ss * ss) / nn AS ik FROM perio),
        |tot AS (SELECT sum(ik) AS ti, CAST(count(*) AS DOUBLE) AS m
        |  FROM p2k),
        |g AS (SELECT k, m, round(ik / ti, 6) AS g
        |  FROM p2k CROSS JOIN tot ORDER BY g DESC, k LIMIT 1)
        |SELECT CAST(k AS BIGINT) AS dominant_k, g AS fishers_g,
        |  round(m * pow(1.0 - g, m - 1), 6) AS p_value,
        |  m * pow(1.0 - g, m - 1) < 0.05 AS periodic_at_5pct
        |FROM g""".stripMargin,

    "q564_coupon_collector" ->
      s"""WITH ev AS (SELECT ts, event_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |r AS (SELECT item,
         |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
         |      AS rk
         |  FROM ev),
         |fs AS (SELECT item, min(rk) AS fr FROM r GROUP BY 1),
         |ni AS (SELECT CAST(count(*) AS BIGINT) AS ni,
         |    CAST(max(fr) AS BIGINT) AS observed FROM fs),
         |h AS (SELECT min(ni.ni) AS ni, min(ni.observed) AS observed,
         |    sum(1.0 / CAST(g AS DOUBLE)) AS hn
         |  FROM range(1, 1000) t(g) CROSS JOIN ni WHERE g <= ni.ni)
         |SELECT ni AS n_items,
         |  round(CAST(ni AS DOUBLE) * hn, 2) AS expected_draws,
         |  observed AS observed_draws,
         |  round(CAST(observed AS DOUBLE) /
         |    (CAST(ni AS DOUBLE) * hn), 4) AS ratio
         |FROM h""".stripMargin,

    "q565_power_means" ->
      """WITH v AS (SELECT CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS DOUBLE) / 100.0 AS v
        |  FROM orders),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(1.0 / v) AS sinv, avg(ln(v)) AS mlog,
        |    avg(v) AS ma, avg(v * v) AS msq
        |  FROM v),
        |f AS (SELECT *, n / sinv AS h, exp(mlog) AS g,
        |    sqrt(msq) AS q FROM m)
        |SELECT CAST(n AS BIGINT) AS n_orders, round(h, 2) AS harmonic,
        |  round(g, 2) AS geometric, round(ma, 2) AS arithmetic,
        |  round(q, 2) AS quadratic,
        |  (h <= g AND g <= ma AND ma <= q) AS inequality_chain_holds
        |FROM f""".stripMargin,

    "q566_iqv" ->
      """WITH cells AS (SELECT c_nationkey AS nk, c_mktsegment,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM customer GROUP BY 1, 2),
        |tot AS (SELECT nk, sum(c) AS n, CAST(count(*) AS BIGINT) AS k,
        |    sum(c * c) AS ss
        |  FROM cells GROUP BY 1)
        |SELECT CAST(nk AS BIGINT) AS nation,
        |  CAST(n AS BIGINT) AS n_customers, k AS k_segments,
        |  round(CAST(k AS DOUBLE) / (k - 1) *
        |    (1.0 - ss / (n * n)), 6) AS iqv
        |FROM tot ORDER BY nation""".stripMargin,

    "q567_secretary_rule" ->
      """WITH s0 AS (SELECT o_custkey AS ck, o_orderdate, o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY ck
        |    ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM s0),
        |per AS (SELECT ck, CAST(count(*) AS BIGINT) AS nu,
        |    CAST(max(v) AS BIGINT) AS vmax
        |  FROM r GROUP BY 1),
        |pe AS (SELECT *, greatest((nu * 37) // 100, 1) AS k1
        |  FROM per WHERE nu >= 3),
        |th AS (SELECT r.ck, min(pe.vmax) AS vmax, min(pe.k1) AS k1,
        |    max(CASE WHEN r.rn <= pe.k1 THEN r.v END) AS thr
        |  FROM r JOIN pe ON r.ck = pe.ck GROUP BY 1),
        |pk AS (SELECT r.ck, min(th.vmax) AS vmax2, min(r.rn) AS pickrn
        |  FROM r JOIN th ON r.ck = th.ck
        |  WHERE r.rn > th.k1 AND r.v > th.thr GROUP BY 1),
        |pv AS (SELECT r.ck, (r.v = pk.vmax2) AS success
        |  FROM r JOIN pk ON r.ck = pk.ck AND r.rn = pk.pickrn),
        |nu2 AS (SELECT CAST(count(*) AS DOUBLE) AS nu2 FROM pe),
        |ag AS (SELECT
        |    CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS wins,
        |    CAST(count(*) AS DOUBLE) AS picked
        |  FROM pv)
        |SELECT CAST(nu2 AS BIGINT) AS n_customers,
        |  CAST(picked AS BIGINT) AS n_picked,
        |  CAST(wins AS BIGINT) AS n_best_found,
        |  round(wins / nu2, 4) AS success_rate,
        |  round(1.0 / exp(1.0), 4) AS theory_1_over_e
        |FROM ag CROSS JOIN nu2""".stripMargin,

    "q568_effective_catalog" ->
      s"""WITH items AS (SELECT
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |ic AS (SELECT item, CAST(count(*) AS DOUBLE) AS c FROM items
         |  GROUP BY 1),
         |tot AS (SELECT sum(c) AS tc, CAST(count(*) AS DOUBLE) AS k
         |  FROM ic),
         |h AS (SELECT min(k) AS k,
         |    sum(-(c / tc) * ln(c / tc)) AS hh
         |  FROM ic CROSS JOIN tot)
         |SELECT CAST(k AS BIGINT) AS catalog_size,
         |  round(hh, 6) AS entropy_nats,
         |  round(exp(hh), 2) AS effective_catalog_size,
         |  round(exp(hh) / k, 4) AS effective_share
         |FROM h""".stripMargin,

    "q569_bimodality" ->
      """WITH x AS (SELECT CAST(CAST(floor(c_acctbal * 100 + 0.5)
        |    AS BIGINT) AS DOUBLE) / 100.0 AS x
        |  FROM customer),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS m1,
        |    avg(x * x) AS m2, avg(x * x * x) AS m3,
        |    avg(x * x * x * x) AS m4
        |  FROM x),
        |c AS (SELECT *, m2 - m1 * m1 AS c2,
        |    m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS c3,
        |    m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        |      - 3.0 * m1 * m1 * m1 * m1 AS c4
        |  FROM m),
        |f AS (SELECT *, c3 / pow(c2, 1.5) AS skew,
        |    c4 / (c2 * c2) AS kurt FROM c)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(skew, 6) AS skewness, round(kurt, 6) AS kurtosis,
        |  round((skew * skew + 1) / kurt, 6) AS bimodality_coef,
        |  (skew * skew + 1) / kurt > 0.555 AS suggests_bimodal
        |FROM f""".stripMargin,

    "q570_kelly" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r0 AS (SELECT rev - lag(rev) OVER (ORDER BY d) AS chg
        |  FROM daily),
        |r AS (SELECT chg FROM r0 WHERE chg IS NOT NULL AND chg <> 0),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN chg > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS nup,
        |    avg(CASE WHEN chg > 0 THEN chg END) AS gain,
        |    avg(CASE WHEN chg < 0 THEN -chg END) AS loss
        |  FROM r),
        |f AS (SELECT *, nup / n AS p, gain / loss AS b FROM m)
        |SELECT CAST(n AS BIGINT) AS n_days, round(p, 4) AS p_win,
        |  round(b, 4) AS payoff_ratio,
        |  round(p - (1.0 - p) / b, 6) AS kelly_fraction,
        |  round(p * b - (1.0 - p), 6) AS edge
        |FROM f""".stripMargin,

    "q571_item_uniformity" ->
      s"""WITH items AS (SELECT
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |ic AS (SELECT item, CAST(count(*) AS DOUBLE) AS c FROM items
         |  GROUP BY 1),
         |tot AS (SELECT sum(c) AS tc, CAST(count(*) AS DOUBLE) AS k
         |  FROM ic),
         |we AS (SELECT item, c, tc, k, tc / k AS e
         |  FROM ic CROSS JOIN tot),
         |chi AS (SELECT min(k) AS k,
         |    sum((c - e) * (c - e) / e) AS chi2 FROM we),
         |top AS (SELECT item AS top_item, round(c / tc, 6) AS top_share
         |  FROM we ORDER BY c DESC, item LIMIT 1)
         |SELECT CAST(k AS BIGINT) AS n_items,
         |  round(chi2, 4) AS chi2_uniform,
         |  CAST(k - 1 AS BIGINT) AS df, top_item, top_share
         |FROM chi CROSS JOIN top""".stripMargin,

    "q572_gibrats_law" ->
      """WITH br AS (SELECT p.p_brand,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1995
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1996
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS r1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1 HAVING r0 > 0 AND r1 > 0),
        |xy AS (SELECT ln(CAST(r0 AS DOUBLE)) AS x,
        |    ln(CAST(r1 AS DOUBLE)) - ln(CAST(r0 AS DOUBLE)) AS y
        |  FROM br),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS mx,
        |    avg(y) AS my, avg(x * y) - avg(x) * avg(y) AS cxy,
        |    avg(x * x) - avg(x) * avg(x) AS cxx,
        |    avg(y * y) - avg(y) * avg(y) AS cyy
        |  FROM xy),
        |f AS (SELECT n, cxy / cxx AS b,
        |    sqrt((cyy - cxy * cxy / cxx) * n / (n - 2) / (n * cxx))
        |      AS se
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_brands, round(b, 6) AS slope,
        |  round(se, 6) AS slope_se, round(b / se, 4) AS t_stat,
        |  abs(b / se) < 1.96 AS gibrat_holds
        |FROM f""".stripMargin,

    "q573_price_stickiness" ->
      """WITH py AS (SELECT l.l_partkey,
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
        |ch AS (SELECT (r1 / q1) / (r0 / q0) - 1.0 AS chg FROM py
        |  WHERE q0 > 0 AND q1 > 0),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    CAST(sum(CASE WHEN abs(chg) > 0.01 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS rs,
        |    avg(abs(chg)) AS mac, median(chg) AS med
        |  FROM ch)
        |SELECT n_parts, round(rs, 4) AS share_repriced_1pct,
        |  round(mac, 6) AS mean_abs_change,
        |  round(med, 6) AS median_change
        |FROM m""".stripMargin,

    "q574_top_shares" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS tc FROM spend),
        |r AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
        |      AS BIGINT) AS rk
        |  FROM spend),
        |pcts(pct) AS (VALUES (1), (5), (10), (20)),
        |ag AS (SELECT CAST(pct AS BIGINT) AS top_pct,
        |    CAST(count(*) AS BIGINT) AS n_top,
        |    CAST(sum(cents) AS BIGINT) AS c, min(tot.tc) AS tc2
        |  FROM r CROSS JOIN tot CROSS JOIN pcts
        |  WHERE rk <= (tot.n * pct) // 100
        |  GROUP BY 1)
        |SELECT top_pct, n_top,
        |  round(CAST(c AS DOUBLE) / tc2, 6) AS revenue_share
        |FROM ag ORDER BY top_pct""".stripMargin,

    "q575_renkonen" ->
      s"""WITH toks AS (SELECT source, tok,
         |    CAST(count(*) AS DOUBLE) AS c FROM (
         |    SELECT source, unnest($ntoksSql) AS tok FROM documents
         |    WHERE source IN ('src0', 'src1'))
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, sum(c) AS nt FROM toks GROUP BY 1),
         |p AS (SELECT t.source, t.tok, t.c / tot.nt AS p
         |  FROM toks t JOIN tot ON t.source = tot.source),
         |a AS (SELECT tok, p AS p1 FROM p WHERE source = 'src0'),
         |b AS (SELECT tok, p AS p2 FROM p WHERE source = 'src1'),
         |j AS (SELECT a.p1, b.p2 FROM a FULL OUTER JOIN b USING (tok))
         |SELECT CAST(sum(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS shared_tokens,
         |  round(sum(least(COALESCE(p1, 0.0), COALESCE(p2, 0.0))), 6)
         |    AS renkonen_similarity
         |FROM j""".stripMargin,

    "q576_log_loss" ->
      s"""WITH $lrCtes,
         |prev AS (SELECT avg(y) AS pi FROM scored),
         |cl AS (SELECT y,
         |    least(greatest(p, 1e-12), 1.0 - 1e-12) AS pc, pi
         |  FROM scored CROSS JOIN prev),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    avg(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))) AS ll,
         |    avg(-(y * ln(pi) + (1.0 - y) * ln(1.0 - pi))) AS ll0
         |  FROM cl)
         |SELECT CAST(n AS BIGINT) AS n_docs, round(ll, 6) AS log_loss,
         |  round(ll0, 6) AS log_loss_null,
         |  round(1.0 - ll / ll0, 6) AS mcfadden_pseudo_r2
         |FROM m""".stripMargin,

    "q577_leadership_days" ->
      """WITH daily AS (SELECT CAST(o.o_orderdate AS DATE) AS d,
        |    c.c_mktsegment AS sg,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ld AS (SELECT d, sg FROM (SELECT *,
        |    row_number() OVER (PARTITION BY d ORDER BY rev DESC, sg)
        |      AS rk
        |  FROM daily) WHERE rk = 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM ld)
        |SELECT sg AS segment, CAST(count(*) AS BIGINT) AS days_led,
        |  round(CAST(count(*) AS DOUBLE) / min(nd), 4)
        |    AS leadership_share
        |FROM ld CROSS JOIN tot GROUP BY 1 ORDER BY segment"""
        .stripMargin,

    "q578_pit_uniformity" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |sc AS (SELECT d, y, CAST(count(y) OVER w AS DOUBLE) AS k,
        |    sum(y) OVER w AS sy, sum(y * y) OVER w AS syy
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (SELECT *, sy / k AS mu,
        |    sqrt(syy / k - (sy / k) * (sy / k)) AS sd
        |  FROM sc WHERE k >= 5),
        |s3 AS (SELECT *, (y - mu) / sd AS zz FROM s2 WHERE sd > 0),
        |s4 AS (SELECT *, abs(zz) / sqrt(2.0) AS xab FROM s3),
        |s5 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xab) AS tt FROM s4),
        |s6 AS (SELECT *, 1.0 - (0.254829592 * tt - 0.284496736 * tt * tt
        |    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt
        |    * tt + 1.061405429 * tt * tt * tt * tt * tt)
        |    * exp(-xab * xab) AS erfabs
        |  FROM s5),
        |s7 AS (SELECT *, 0.5 * (1.0 + CASE WHEN zz >= 0 THEN erfabs
        |    ELSE -erfabs END) AS pit FROM s6),
        |b AS (SELECT least(CAST(floor(pit * 5) AS BIGINT), 4) AS bin,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM s7 GROUP BY 1),
        |tt2 AS (SELECT sum(c) AS n FROM b),
        |ag AS (SELECT min(n) AS n,
        |    sum((c - n / 5) * (c - n / 5) / (n / 5)) AS chi2
        |  FROM b CROSS JOIN tt2)
        |SELECT CAST(n AS BIGINT) AS n_days_scored,
        |  round(chi2, 4) AS chi2_uniform_5bins,
        |  CAST(4 AS BIGINT) AS df, chi2 < 9.49 AS calibrated_5pct
        |FROM ag""".stripMargin,

    "q579_peak_to_mean" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS rk
        |  FROM daily),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |    avg(CAST(y AS DOUBLE)) AS mean,
        |    CAST(max(y) AS DOUBLE) AS peak,
        |    CAST(max(CASE WHEN rk = (n * 95) // 100 THEN y END)
        |      AS DOUBLE) AS p95
        |  FROM r CROSS JOIN nn)
        |SELECT CAST(nd AS BIGINT) AS n_days,
        |  round(mean, 2) AS mean_load,
        |  CAST(peak AS BIGINT) AS peak_load,
        |  round(peak / mean, 4) AS peak_to_mean,
        |  round(p95 / mean, 4) AS p95_to_mean,
        |  round(1.2 * mean / peak, 4) AS coverage_at_1_2x_mean
        |FROM m""".stripMargin,

    "q580_spectral_radius" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cAggs = (for { i <- types; j <- types } yield
        s"COALESCE(max(CASE WHEN src = '$i' AND dst = '$j' THEN c END), 0.0) AS c_${i}_$j")
        .mkString(",\n    ")
      val cCols = (for { i <- types; j <- types } yield s"c_${i}_$j")
        .mkString(", ")
      val steps = (1 to 15).map { t =>
        val ys = types.map { i =>
          types.map(j => s"c_${i}_$j * x_$j").mkString(" + ") +
            s" AS y_$i"
        }.mkString(",\n    ")
        val norm = types.map(i => s"y_$i").mkString(" + ")
        val xs = types.map(i => s"y_$i / ($norm) AS x_$i")
          .mkString(", ")
        s"""s${t}_ AS (SELECT $cCols,
           |    $ys
           |  FROM k${t - 1}_),
           |k${t}_ AS (SELECT $cCols, $xs FROM s${t}_)""".stripMargin
      }.mkString(",\n")
      val lam = types.map { i =>
        "(" + types.map(j => s"c_${i}_$j * x_$j").mkString(" + ") + ")"
      }.mkString(" + ")
      val argCase = types.init.zipWithIndex.map { case (tp, i) =>
        val conds = types.drop(i + 1)
          .map(o => s"x_$tp >= x_$o").mkString(" AND ")
        s"WHEN $conds THEN '$tp'"
      }.mkString(" ")
      val gx = types.map(i => s"x_$i").mkString("greatest(", ", ", ")")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst,
         |    CAST(count(*) AS DOUBLE) / 1000.0 AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT
         |    $cAggs
         |  FROM tr),
         |k0_ AS (SELECT *, ${types.map(i => s"0.2 AS x_$i")
        .mkString(", ")} FROM w),
         |$steps
         |SELECT round(($lam) * 1000, 2) AS spectral_radius,
         |  CASE $argCase ELSE '${types.last}' END AS dominant_type,
         |  round($gx, 6) AS dominant_share
         |FROM k15_""".stripMargin
    },

    "q581_sinkhorn" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val mAggs = (for { i <- types; j <- types } yield
        s"COALESCE(max(CASE WHEN src = '$i' AND dst = '$j' THEN c END), 0.0) AS m_${i}_$j")
        .mkString(",\n    ")
      val steps = (1 to 10).map { t =>
        val rowN = types.flatMap { i =>
          val rs = types.map(j => s"m_${i}_$j").mkString(" + ")
          types.map(j => s"m_${i}_$j / ($rs) AS m_${i}_$j")
        }.mkString(",\n    ")
        val colN = types.flatMap { i =>
          types.map { j =>
            val cs = types.map(i2 => s"m_${i2}_$j").mkString(" + ")
            s"m_${i}_$j / ($cs) AS m_${i}_$j"
          }
        }.mkString(",\n    ")
        s"""r${t}_ AS (SELECT
           |    $rowN
           |  FROM k${t - 1}_),
           |k${t}_ AS (SELECT
           |    $colN
           |  FROM r${t}_)""".stripMargin
      }.mkString(",\n")
      val rowDev = types.map { i =>
        "abs(" + types.map(j => s"m_${i}_$j").mkString(" + ") + " - 1.0)"
      }.mkString("greatest(", ", ", ")")
      val colDev = types.map { j =>
        "abs(" + types.map(i => s"m_${i}_$j").mkString(" + ") + " - 1.0)"
      }.mkString("greatest(", ", ", ")")
      val minC = (for { i <- types; j <- types } yield s"m_${i}_$j")
        .mkString("least(", ", ", ")")
      val maxC = (for { i <- types; j <- types } yield s"m_${i}_$j")
        .mkString("greatest(", ", ", ")")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |k0_ AS (SELECT
         |    $mAggs
         |  FROM tr),
         |$steps
         |SELECT CAST(10 AS BIGINT) AS iterations,
         |  round($rowDev, 8) AS max_row_dev,
         |  round($colDev, 8) AS max_col_dev,
         |  round($minC, 6) AS min_cell,
         |  round($maxC, 6) AS max_cell
         |FROM k10_""".stripMargin
    },

    "q582_revenue_mi" ->
      """WITH cells AS (SELECT c.c_mktsegment AS sg,
        |    c.c_nationkey AS nk,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tc FROM cells),
        |segm AS (SELECT sg, CAST(sum(c) AS BIGINT) AS cs FROM cells
        |  GROUP BY 1),
        |natm AS (SELECT nk, CAST(sum(c) AS BIGINT) AS cn FROM cells
        |  GROUP BY 1),
        |mi AS (SELECT sum(CAST(ce.c AS DOUBLE) / tc *
        |    ln(CAST(ce.c AS DOUBLE) * tc /
        |      (CAST(sm.cs AS DOUBLE) * CAST(nm.cn AS DOUBLE)))) AS mi
        |  FROM cells ce JOIN segm sm ON ce.sg = sm.sg
        |  JOIN natm nm ON ce.nk = nm.nk CROSS JOIN tot),
        |hs AS (SELECT sum(-(CAST(cs AS DOUBLE) / tc) *
        |    ln(CAST(cs AS DOUBLE) / tc)) AS hs
        |  FROM segm CROSS JOIN tot),
        |hn AS (SELECT sum(-(CAST(cn AS DOUBLE) / tc) *
        |    ln(CAST(cn AS DOUBLE) / tc)) AS hn
        |  FROM natm CROSS JOIN tot)
        |SELECT round(mi, 6) AS mi_nats, round(hs, 6) AS h_segment,
        |  round(hn, 6) AS h_nation,
        |  round(mi / least(hs, hn), 6) AS normalized_mi
        |FROM mi CROSS JOIN hs CROSS JOIN hn""".stripMargin,

    "q583_piecewise_hazard" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o_orderdate), min(mx.mx)) > 90 AS event
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |bands(lo, hi) AS (VALUES (0, 30), (31, 60), (61, 90),
        |  (91, 100000)),
        |e AS (SELECT lo, hi,
        |    CAST(sum(CASE WHEN event AND dur <= hi THEN 1 ELSE 0 END)
        |      AS BIGINT) AS events,
        |    CAST(sum(least(dur, hi) - lo + 1) AS BIGINT) AS exposure
        |  FROM cust CROSS JOIN bands WHERE dur >= lo GROUP BY 1, 2)
        |SELECT CAST(lo AS VARCHAR) || '-' ||
        |    (CASE WHEN hi = 100000 THEN 'plus'
        |      ELSE CAST(hi AS VARCHAR) END) AS band,
        |  events, exposure,
        |  round(CAST(events AS DOUBLE) / exposure * 1000, 4)
        |    AS rate_per_1000_days
        |FROM e ORDER BY lo""".stripMargin,

    "q584_fano_curve" ->
      """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |idx AS (SELECT date_diff('day', d0, CAST(ts AS DATE)) AS k
        |  FROM events CROSS JOIN d0),
        |ks(w) AS (VALUES (1), (3), (7)),
        |win AS (SELECT w, k // w AS win,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM idx CROSS JOIN ks GROUP BY 1, 2),
        |ag AS (SELECT w, CAST(count(*) AS BIGINT) AS n_windows,
        |    avg(c) AS m, avg(c * c) - avg(c) * avg(c) AS v
        |  FROM win GROUP BY 1)
        |SELECT CAST(w AS BIGINT) AS window_days, n_windows,
        |  round(m, 2) AS mean_count, round(v / m, 4) AS fano_factor
        |FROM ag ORDER BY window_days""".stripMargin,

    "q585_stationary_dist" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pAggs = (for { i <- types; j <- types } yield
        s"COALESCE(max(CASE WHEN src = '$i' AND dst = '$j' THEN p END), 0.0) AS p_${i}_$j")
        .mkString(",\n    ")
      val pCols = (for { i <- types; j <- types } yield s"p_${i}_$j")
        .mkString(", ")
      val steps = (1 to 20).map { t =>
        val xs = types.map { j =>
          types.map(i => s"x_$i * p_${i}_$j").mkString(" + ") +
            s" AS x_$j"
        }.mkString(",\n    ")
        s"""k${t}_ AS (SELECT $pCols,
           |    $xs
           |  FROM k${t - 1}_)""".stripMargin
      }.mkString(",\n")
      val branches = types.map(i =>
        s"SELECT '$i' AS event_type, round(x_$i, 6) AS stationary FROM k20_")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type AS dst
         |  FROM events),
         |sq AS (SELECT dst, lag(dst) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src FROM ev),
         |tr AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS c
         |  FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT src, sum(c) AS rt FROM tr GROUP BY 1),
         |p AS (SELECT t.src, t.dst, t.c / r.rt AS p
         |  FROM tr t JOIN rt r USING (src)),
         |obs AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS oc
         |  FROM events GROUP BY 1),
         |ot AS (SELECT sum(oc) AS ot FROM obs),
         |w AS (SELECT
         |    $pAggs
         |  FROM p),
         |k0_ AS (SELECT *, ${types.map(i => s"0.2 AS x_$i")
        .mkString(", ")} FROM w),
         |$steps,
         |st AS (
         |  $branches)
         |SELECT st.event_type, st.stationary,
         |  round(obs.oc / ot.ot, 6) AS observed_share,
         |  round(st.stationary - obs.oc / ot.ot, 6) AS diff
         |FROM st JOIN obs ON st.event_type = obs.event_type
         |CROSS JOIN ot ORDER BY st.event_type""".stripMargin
    },

    "q586_conversion_latency" ->
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS ts0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, epoch_us(ts) AS tp FROM events
        |  WHERE event_type = 'purchase'),
        |g AS (SELECT su.user_id,
        |    CAST(min(pu.tp) - min(su.ts0) AS DOUBLE) / 3.6e9 AS h
        |  FROM su JOIN pu ON su.user_id = pu.user_id
        |    AND pu.tp >= su.ts0
        |  GROUP BY 1),
        |r AS (SELECT h,
        |    CAST(row_number() OVER (ORDER BY h, user_id) AS BIGINT)
        |      AS rk
        |  FROM g),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
        |ag AS (SELECT min(nn.n) AS n,
        |    max(CASE WHEN rk = (n * 25) // 100 THEN h END) AS p25,
        |    max(CASE WHEN rk = (n * 50) // 100 THEN h END) AS p50,
        |    max(CASE WHEN rk = (n * 75) // 100 THEN h END) AS p75,
        |    max(CASE WHEN rk = (n * 90) // 100 THEN h END) AS p90
        |  FROM r CROSS JOIN nn)
        |SELECT CAST(n AS BIGINT) AS n_converted,
        |  round(p25, 2) AS p25_hours, round(p50, 2) AS p50_hours,
        |  round(p75, 2) AS p75_hours, round(p90, 2) AS p90_hours
        |FROM ag""".stripMargin,

    "q587_trim_curve" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT v,
        |    CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT) AS rk
        |  FROM base),
        |trims(trim) AS (VALUES (0), (5), (10), (25)),
        |f AS (SELECT trim, (nn.n * trim) // 100 AS k, v, rk, nn.n
        |  FROM r CROSS JOIN nn CROSS JOIN trims),
        |ag AS (SELECT CAST(trim AS BIGINT) AS trim_pct,
        |    CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(v) AS DOUBLE) / count(*) / 100.0 AS m
        |  FROM f WHERE rk > k AND rk <= n - k GROUP BY 1)
        |SELECT trim_pct, n_kept, round(m, 4) AS trimmed_mean
        |FROM ag ORDER BY trim_pct""".stripMargin,

    "q588_conditional_survival" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o_orderdate), min(mx.mx)) > 90 AS event
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |byd AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM byd),
        |cum AS (SELECT *, CAST(sum(c_all) OVER (ORDER BY dur) AS BIGINT)
        |    AS cum_all FROM byd),
        |risk AS (SELECT dur, c_all, d,
        |    n_total - (cum_all - c_all) AS n_risk
        |  FROM cum CROSS JOIN tot
        |  WHERE d > 0 AND n_total - (cum_all - c_all) > d),
        |lns AS (SELECT *, ln(CAST(n_risk - d AS DOUBLE) /
        |    CAST(n_risk AS DOUBLE)) AS lnS FROM risk),
        |sv AS (SELECT
        |    exp(sum(CASE WHEN dur <= 30 THEN lnS ELSE 0.0 END)) AS s30,
        |    exp(sum(CASE WHEN dur <= 60 THEN lnS ELSE 0.0 END)) AS s60,
        |    exp(sum(CASE WHEN dur <= 90 THEN lnS ELSE 0.0 END)) AS s90
        |  FROM lns)
        |SELECT round(s30, 6) AS s30, round(s60, 6) AS s60,
        |  round(s90, 6) AS s90,
        |  round(s60 / s30, 6) AS s60_given_30,
        |  round(s90 / s60, 6) AS s90_given_60
        |FROM sv""".stripMargin,

    "q589_monthly_concentration" ->
      """WITH m AS (SELECT month(o_orderdate) AS mo,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(rev) AS tr FROM m),
        |sh AS (SELECT mo, rev / tr AS p FROM m CROSS JOIN tot),
        |hhi AS (SELECT sum(p * p) AS hhi FROM sh),
        |peak AS (SELECT CAST(mo AS BIGINT) AS peak_month,
        |    round(p, 6) AS peak_share
        |  FROM sh ORDER BY p DESC, mo LIMIT 1),
        |trough AS (SELECT CAST(mo AS BIGINT) AS trough_month,
        |    round(p, 6) AS trough_share
        |  FROM sh ORDER BY p ASC, mo LIMIT 1)
        |SELECT round(hhi, 6) AS monthly_hhi,
        |  0.083333 AS uniform_hhi, peak_month, peak_share,
        |  trough_month, trough_share
        |FROM hhi CROSS JOIN peak CROSS JOIN trough""".stripMargin,

    "q590_ccdf_decades" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM spend),
        |thr(t) AS (VALUES (10000), (100000), (1000000), (10000000),
        |  (100000000)),
        |ag AS (SELECT CAST(t AS BIGINT) AS t, min(nn.n) AS n2,
        |    CAST(sum(CASE WHEN cents > t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above
        |  FROM spend CROSS JOIN thr CROSS JOIN nn GROUP BY 1)
        |SELECT t // 100 AS threshold_dollars, n_above,
        |  round(CAST(n_above AS DOUBLE) / n2, 6) AS ccdf
        |FROM ag ORDER BY threshold_dollars""".stripMargin,

    "q591_cagr" ->
      """WITH sy AS (SELECT c.c_mktsegment AS sg,
        |    CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |yrs AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM sy),
        |ends AS (SELECT sg, min(y0) AS y0, min(y1) AS y1,
        |    max(CASE WHEN yr = y0 THEN rev END) AS r0,
        |    max(CASE WHEN yr = y1 THEN rev END) AS r1
        |  FROM sy CROSS JOIN yrs
        |  WHERE yr = y0 OR yr = y1 GROUP BY 1),
        |f AS (SELECT * FROM ends WHERE r0 > 0 AND r1 > 0)
        |SELECT sg AS segment, y0 AS first_year, y1 AS last_year,
        |  round(pow(r1 / r0, 1.0 / CAST(y1 - y0 AS DOUBLE)) - 1.0, 6)
        |    AS cagr
        |FROM f ORDER BY segment""".stripMargin,

    "q592_arch_effect" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r0 AS (SELECT d,
        |    ln(rev / lag(rev) OVER (ORDER BY d)) *
        |    ln(rev / lag(rev) OVER (ORDER BY d)) AS r2
        |  FROM daily),
        |r AS (SELECT d, r2 FROM r0 WHERE r2 IS NOT NULL),
        |pr AS (SELECT r2, lag(r2) OVER (ORDER BY d) AS p2 FROM r),
        |pp AS (SELECT * FROM pr WHERE p2 IS NOT NULL),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(r2 * p2) - avg(r2) * avg(p2) AS cov,
        |    avg(p2 * p2) - avg(p2) * avg(p2) AS v
        |  FROM pp),
        |f AS (SELECT *, cov / v AS rho FROM m)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  round(rho, 6) AS rho1_squared_returns,
        |  round(rho * sqrt(n), 4) AS z,
        |  abs(rho * sqrt(n)) > 1.96 AS arch_effect_present
        |FROM f""".stripMargin,

    "q593_weekday_revenue" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |wd AS (SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    avg(rev) / 100.0 AS meanrev
        |  FROM daily GROUP BY 1),
        |tot AS (SELECT sum(meanrev) AS tm FROM wd)
        |SELECT dow AS day_of_week, n_days,
        |  round(meanrev, 2) AS mean_daily_revenue,
        |  round(meanrev / tm, 6) AS profile_share
        |FROM wd CROSS JOIN tot ORDER BY day_of_week""".stripMargin,

    "q594_sla_attainment" ->
      """WITH lag0 AS (SELECT o.o_orderpriority AS pri,
        |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
        |      AS BIGINT) AS lg
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey),
        |ag AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CASE WHEN lg <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS w30,
        |    CAST(sum(CASE WHEN lg <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS w60,
        |    CAST(sum(CASE WHEN lg <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS w90
        |  FROM lag0 GROUP BY 1)
        |SELECT pri AS priority, n_items, round(w30, 4) AS within_30d,
        |  round(w60, 4) AS within_60d, round(w90, 4) AS within_90d
        |FROM ag ORDER BY priority""".stripMargin,

    "q595_weekday_envelope" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |dw AS (SELECT *, CAST(dayofweek(d) + 1 AS BIGINT) AS dow
        |  FROM daily),
        |ng AS (SELECT dow, CAST(count(*) AS BIGINT) AS ng FROM dw
        |  GROUP BY 1),
        |r AS (SELECT dw.*, ng.ng,
        |    CAST(row_number() OVER (PARTITION BY dw.dow
        |      ORDER BY y, d) AS BIGINT) AS rk
        |  FROM dw JOIN ng ON dw.dow = ng.dow),
        |ag AS (SELECT dow, min(ng) AS n_days,
        |    max(CASE WHEN rk = greatest((ng * 10) // 100, 1) THEN y
        |      END) AS p10,
        |    max(CASE WHEN rk = greatest((ng * 50) // 100, 1) THEN y
        |      END) AS p50,
        |    max(CASE WHEN rk = greatest((ng * 90) // 100, 1) THEN y
        |      END) AS p90
        |  FROM r GROUP BY 1)
        |SELECT dow AS day_of_week, n_days, p10, p50, p90
        |FROM ag ORDER BY day_of_week""".stripMargin,

    "q596_memorylessness" ->
      """WITH p AS (SELECT epoch_us(ts) AS t, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY t, event_id) AS BIGINT)
        |      AS rk
        |  FROM p),
        |gaps AS (SELECT CAST(a.t - b.t AS DOUBLE) / 1e6 AS g
        |  FROM r a JOIN r b ON a.rk = b.rk + 1),
        |med AS (SELECT median(g) AS m FROM gaps),
        |ag AS (SELECT CAST(count(*) AS DOUBLE) AS n, min(med.m) AS m,
        |    CAST(sum(CASE WHEN g > med.m THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS gts,
        |    CAST(sum(CASE WHEN g > med.m * 2 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS gt2s
        |  FROM gaps CROSS JOIN med)
        |SELECT CAST(n AS BIGINT) AS n_gaps,
        |  round(m, 4) AS median_gap_s,
        |  round(gt2s / gts, 6) AS p_exceed_2s_given_s,
        |  round(gts / n, 6) AS p_exceed_s,
        |  round(gt2s / gts - gts / n, 6) AS memoryless_gap
        |FROM ag""".stripMargin,

    "q597_quartile_dispersion" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT v,
        |    CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT) AS rk
        |  FROM base),
        |q AS (SELECT min(nn.n) AS n,
        |    max(CASE WHEN rk = n // 4 THEN v END) AS q1,
        |    max(CASE WHEN rk = n // 2 THEN v END) AS q2,
        |    max(CASE WHEN rk = (n * 3) // 4 THEN v END) AS q3
        |  FROM r CROSS JOIN nn)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(CAST(q1 AS DOUBLE) / 100.0, 2) AS q1,
        |  round(CAST(q2 AS DOUBLE) / 100.0, 2) AS median,
        |  round(CAST(q3 AS DOUBLE) / 100.0, 2) AS q3,
        |  round(CAST(q3 - q1 AS DOUBLE) / CAST(q3 + q1 AS DOUBLE), 6)
        |    AS qcd,
        |  round(CAST(q3 - q1 AS DOUBLE) / CAST(q2 AS DOUBLE), 6)
        |    AS iqr_over_median
        |FROM q""".stripMargin,

    "q598_gamma_fit" ->
      """WITH v AS (SELECT CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS DOUBLE) / 100.0 AS v
        |  FROM orders),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS m1,
        |    avg(v * v) AS m2, avg(v * v * v) AS m3
        |  FROM v),
        |c AS (SELECT *, m2 - m1 * m1 AS vr,
        |    m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS c3
        |  FROM m),
        |f AS (SELECT *, m1 * m1 / vr AS k FROM c)
        |SELECT CAST(n AS BIGINT) AS n_orders, round(k, 4) AS shape_k,
        |  round(vr / m1, 2) AS scale_theta,
        |  round(2.0 / sqrt(k), 6) AS implied_skewness,
        |  round(c3 / pow(vr, 1.5), 6) AS observed_skewness
        |FROM f""".stripMargin,

    "q599_tail_ratios" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM spend),
        |r AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents, o_custkey)
        |      AS BIGINT) AS rk
        |  FROM spend),
        |q AS (SELECT min(nn.n) AS n,
        |    max(CASE WHEN rk = greatest((n * 10) // 100, 1) THEN cents
        |      END) AS p10,
        |    max(CASE WHEN rk = n // 2 THEN cents END) AS p50,
        |    max(CASE WHEN rk = (n * 90) // 100 THEN cents END) AS p90,
        |    max(CASE WHEN rk = (n * 99) // 100 THEN cents END) AS p99
        |  FROM r CROSS JOIN nn)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(CAST(p99 AS DOUBLE) / p50, 4) AS p99_to_p50,
        |  round(CAST(p90 AS DOUBLE) / p10, 4) AS p90_to_p10
        |FROM q""".stripMargin,

    "q600_kpi_dashboard" ->
      """WITH rev AS (SELECT
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS revc,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |  FROM orders),
        |rpt AS (SELECT
        |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS repeat_rate
        |  FROM (SELECT o_custkey, count(*) AS c FROM orders
        |        GROUP BY 1)),
        |topseg AS (SELECT c.c_mktsegment AS top_segment FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1
        |  ORDER BY sum(CAST(floor(o.o_totalprice * 100 + 0.5)
        |    AS BIGINT)) DESC, c.c_mktsegment LIMIT 1),
        |spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |gr AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT)
        |      AS r
        |  FROM spend),
        |gini AS (SELECT 2.0 * CAST(sum(r * x) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) -
        |    (CAST(count(*) AS DOUBLE) + 1) /
        |    CAST(count(*) AS DOUBLE) AS gini
        |  FROM gr),
        |mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o_orderdate), min(mx.mx)) > 90
        |      AS event
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |byd AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM byd),
        |cum AS (SELECT *, CAST(sum(c_all) OVER (ORDER BY dur)
        |    AS BIGINT) AS cum_all FROM byd),
        |risk AS (SELECT dur, c_all, d,
        |    n_total - (cum_all - c_all) AS n_risk
        |  FROM cum CROSS JOIN tot
        |  WHERE d > 0 AND n_total - (cum_all - c_all) > d),
        |s90 AS (SELECT exp(sum(CASE WHEN dur <= 90
        |    THEN ln(CAST(n_risk - d AS DOUBLE) /
        |      CAST(n_risk AS DOUBLE)) ELSE 0.0 END)) AS s90
        |  FROM risk)
        |SELECT round(CAST(revc AS DOUBLE) / 100.0, 2) AS total_revenue,
        |  n_orders, n_cust AS n_customers,
        |  round(CAST(revc AS DOUBLE) / n_orders / 100.0, 2)
        |    AS avg_order_value,
        |  round(repeat_rate, 4) AS repeat_rate, top_segment,
        |  round(gini, 4) AS spend_gini, round(s90, 4) AS retention_s90
        |FROM rev CROSS JOIN rpt CROSS JOIN topseg CROSS JOIN gini
        |CROSS JOIN s90""".stripMargin

  )
}
