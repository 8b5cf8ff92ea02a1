package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF, UrlFunctions => UF, VectorFunctions => VF}
import graft.llm.{Bpe, Dedup, Multimodal, Pq, Search, Similarity}
import graft.EntryShared._

/** Statistics gallery II — NLP eval metrics, discovery, forecasting, robust estimation, ops research: q376-q450.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesStats2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q376_cooks_distance" -> ((s, dir) => {
      // Influence audit for the daily-revenue trend: Cook's distance
      // per day (residual x leverage), top-5 by rounded D — which
      // single days most bend the fitted line (the per-point companion
      // to q373's global break test). Leverage is closed-form for
      // simple regression; ranking on ROUNDED D + day keeps the top-5
      // engine-stable.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(floor(col("o_totalprice") * 100 + 0.5)) / 100.0)
          .cast("double").as("y"))
        .select(col("day"),
          datediff(col("day"), lit("1992-01-01")).cast("double")
            .as("tt"), col("y"))
      val mo = daily.agg(count(lit(1)).cast("double").as("n"),
          sum(col("tt")).as("st"), sum(col("tt") * col("tt")).as("stt"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
          sum(col("tt") * col("y")).as("sty"))
        .select(col("n"), col("st"), col("stt"),
          ((col("sty") - col("st") * col("sy") / col("n")) /
            (col("stt") - col("st") * col("st") / col("n"))).as("beta"),
          col("sy"), col("syy"), col("sty"))
        .select(col("n"), col("beta"),
          ((col("sy") - col("beta") * col("st")) / col("n")).as("alpha"),
          (col("st") / col("n")).as("tbar"),
          (col("stt") - col("st") * col("st") / col("n")).as("sxx"),
          ((col("syy") - col("sy") * col("sy") / col("n") -
            (col("sty") - col("st") * col("sy") / col("n")) *
            (col("sty") - col("st") * col("sy") / col("n")) /
            (col("stt") - col("st") * col("st") / col("n"))) /
            (col("n") - 2)).as("s2"))
      daily.crossJoin(broadcast(mo))
        .select(col("day"), col("tt"),
          (col("y") - col("alpha") - col("beta") * col("tt")).as("e"),
          (lit(1.0) / col("n") +
            (col("tt") - col("tbar")) * (col("tt") - col("tbar")) /
            col("sxx")).as("h"), col("s2"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("e"), 2).as("residual"),
          round(col("h"), 6).as("leverage"),
          round(col("e") * col("e") / (lit(2.0) * col("s2")) *
            col("h") / ((lit(1.0) - col("h")) * (lit(1.0) - col("h"))),
            6).as("cooks_d"))
        .orderBy(col("cooks_d").desc, col("day"))
        .limit(5)
    }),

    "q377_rouge1" -> ((s, dir) => {
      // ROUGE-1 (unigram multiset overlap) between each original doc
      // and its planted mutated copy — the reference-based overlap
      // eval LLM pipelines run on generated vs gold text; here the
      // planted family pairs give a known gold alignment. Clipped
      // counts = min(ref, cand) per (family, term); all counts exact
      // integers, BM25's tokenizer dialect (q94) on both engines.
      val toks = docsWithNearDups(s, dir)
        .select(pmod(col("doc_id"), lit(100000L)).as("fam"),
          when(col("doc_id") < 100000L, lit("ref")).otherwise(lit("cand"))
            .as("side"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
      val cnt = toks.groupBy(col("fam"), col("side"), col("term"))
        .agg(count(lit(1)).as("c"))
      val lens = toks.groupBy(col("fam"), col("side"))
        .agg(count(lit(1)).as("len"))
      val ov = cnt.filter(col("side") === "ref")
        .select(col("fam"), col("term"), col("c").as("cr"))
        .join(cnt.filter(col("side") === "cand")
          .select(col("fam"), col("term"), col("c").as("cc")),
          Seq("fam", "term"))
        .groupBy(col("fam"))
        .agg(sum(least(col("cr"), col("cc"))).as("ov"))
      val per = lens.filter(col("side") === "ref")
        .select(col("fam"), col("len").as("lr"))
        .join(lens.filter(col("side") === "cand")
          .select(col("fam"), col("len").as("lc")), Seq("fam"))
        .join(ov, Seq("fam"), "left")
        .withColumn("ov", coalesce(col("ov"), lit(0L)))
        .select(col("fam"),
          (col("ov").cast("double") / col("lr")).as("r"),
          (col("ov").cast("double") / col("lc")).as("p"))
        .select(col("fam"), col("r"), col("p"),
          when(col("r") + col("p") > 0,
            lit(2.0) * col("r") * col("p") / (col("r") + col("p")))
            .otherwise(0.0).as("f1"))
      per.agg(count(lit(1)).as("n_pairs"),
        round(avg(col("r")), 4).as("avg_recall"),
        round(avg(col("p")), 4).as("avg_precision"),
        round(avg(col("f1")), 4).as("avg_f1"))
    }),

    "q378_bleu2" -> ((s, dir) => {
      // Corpus-level BLEU-2 of the mutated copies against their
      // originals: clipped unigram+bigram precision with the brevity
      // penalty — the order-sensitive companion to q377's bag-of-words
      // ROUGE (a shuffled copy keeps ROUGE-1 but loses bigrams).
      // Bigrams come from the positional token index (posexplode), so
      // candidate n-gram totals are exact.
      // token ARRAYS per doc, materialized once (consumed by the unigram
      // explode, the bigram explode twice, and the token totals): bigrams
      // come straight off adjacent array slots — same multiset the old
      // positional self-join produced, without shuffling tokens twice
      val base = docsWithNearDups(s, dir)
        .select(pmod(col("doc_id"), lit(100000L)).as("fam"),
          when(col("doc_id") < 100000L, lit("ref")).otherwise(lit("cand"))
            .as("side"),
          filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => x =!= "").as("ts"))
        .materialize
      val toks = base.select(col("fam"), col("side"),
        explode(col("ts")).as("term"))
      def grams(n: Int): DataFrame =
        if (n == 1) toks
        else base.filter(size(col("ts")) >= 2)
          .select(col("fam"), col("side"), explode(expr(
            "transform(sequence(1, size(ts) - 1), " +
              "i -> concat_ws(' ', ts[i-1], ts[i]))")).as("term"))
      def clipped(g: DataFrame): DataFrame = {
        val c = g.groupBy(col("fam"), col("side"), col("term"))
          .agg(count(lit(1)).as("c"))
        c.filter(col("side") === "ref")
          .select(col("fam"), col("term"), col("c").as("cr"))
          .join(c.filter(col("side") === "cand")
            .select(col("fam"), col("term"), col("c").as("cc")),
            Seq("fam", "term"))
          .agg(sum(least(col("cr"), col("cc"))).as("m"))
      }
      val tot = toks.groupBy(col("side"))
        .agg(count(lit(1)).as("t"), countDistinct(col("fam")).as("nf"))
      val t1c = tot.filter(col("side") === "cand")
        .select(col("t").as("t1"), col("nf"))
      val t1r = tot.filter(col("side") === "ref")
        .select(col("t").as("tr"))
      val t2 = grams(2).filter(col("side") === "cand")
        .agg(count(lit(1)).as("t2"))
      clipped(grams(1)).withColumnRenamed("m", "m1")
        .crossJoin(broadcast(clipped(grams(2))
          .withColumnRenamed("m", "m2")))
        .crossJoin(broadcast(t1c)).crossJoin(broadcast(t1r))
        .crossJoin(broadcast(t2))
        .select(col("nf").as("n_pairs"),
          (col("m1").cast("double") / col("t1")).as("p1"),
          (col("m2").cast("double") / col("t2")).as("p2"),
          least(lit(1.0), exp(lit(1.0) -
            col("tr").cast("double") / col("t1"))).as("bp"))
        .select(col("n_pairs"), round(col("p1"), 4).as("p1"),
          round(col("p2"), 4).as("p2"), round(col("bp"), 4).as("bp"),
          round(col("bp") *
            exp(lit(0.5) * log(col("p1")) + lit(0.5) * log(col("p2"))),
            4).as("bleu2"))
    }),

    "q379_fd_discovery" -> ((s, dir) => {
      // Functional-dependency discovery over the orders schema: for
      // every directed attribute pair A -> B, count the A-groups with
      // more than one distinct B (zero = the FD holds exactly). The
      // classic profiling primitive behind key detection and
      // normalization advice — one grouped countDistinct pass per LHS,
      // never a pairwise row join. Finds o_orderkey -> * (the key)
      // among the 20 candidates; everything else reports its exact
      // violating-group count.
      val attrs = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      // materialized: each of the 5 per-LHS aggregates scans it once
      val df = t(s, dir, "orders")
        .select(attrs.map(col): _*)
        .materialize
      // "more than one distinct B" is exactly min(B) != max(B) (nulls are
      // ignored by countDistinct and by min/max alike; an all-null group
      // yields NULL != NULL = NULL -> not violating on both forms), so the
      // per-LHS pass needs NO distinct aggregates — Spark plans multiple
      // countDistincts as a 4x Expand + two-level aggregate, which was
      // this query's whole cost (bracketed A/B below in OPTIMIZATION_r10)
      val parts = attrs.map { a =>
        val others = attrs.filterNot(_ == a)
        def mm(b: String) = Seq(min(col(b)).as(s"mn_$b"),
          max(col(b)).as(s"mx_$b"))
        val aggs = others.flatMap(mm)
        val g2 = df.groupBy(col(a)).agg(aggs.head, aggs.tail: _*)
        val viols = g2.agg(
          sum(when(col(s"mn_${others.head}") =!= col(s"mx_${others.head}"),
            1L).otherwise(0L)).as(s"v_${others.head}"),
          others.tail.map(b =>
            sum(when(col(s"mn_$b") =!= col(s"mx_$b"), 1L).otherwise(0L))
              .as(s"v_$b")): _*)
        viols.select(others.map(b =>
          struct(lit(a).as("lhs"), lit(b).as("rhs"),
            col(s"v_$b").as("nv")).as(s"s_$b")): _*)
          .select(explode(array(others.map(b => col(s"s_$b")): _*))
            .as("r"))
          .select(col("r.lhs").as("lhs"), col("r.rhs").as("rhs"),
            col("r.nv").as("n_violating_groups"))
      }
      parts.reduce(_ unionAll _)
        .withColumn("holds", col("n_violating_groups") === 0)
        .orderBy(col("lhs"), col("rhs"))
    }),

    "q380_ind_discovery" -> ((s, dir) => {
      // Inclusion-dependency discovery (the cross-table FD sibling):
      // is every distinct value of column A present in column B —
      // the foreign-key candidate test, run as distinct-project +
      // anti-join counts, never a row-level join. The candidate list
      // covers the real TPC-H FKs plus one deliberately false
      // direction (customers without orders).
      def ind(name: String, lhs: DataFrame, lc: String,
              rhs: DataFrame, rc: String): DataFrame = {
        val l = lhs.select(col(lc).cast("long").as("v")).distinct()
        val r = rhs.select(col(rc).cast("long").as("v")).distinct()
        l.join(r, Seq("v"), "left_anti")
          .agg(count(lit(1)).as("n_missing"))
          .crossJoin(broadcast(l.agg(count(lit(1)).as("n_distinct_lhs"))))
          .select(lit(name).as("candidate"), col("n_distinct_lhs"),
            col("n_missing"), (col("n_missing") === 0).as("holds"))
      }
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val l = t(s, dir, "lineitem"); val n = t(s, dir, "nation")
      val su = t(s, dir, "supplier"); val r = t(s, dir, "region")
      Seq(
        ind("o_custkey<=c_custkey", o, "o_custkey", c, "c_custkey"),
        ind("l_orderkey<=o_orderkey", l, "l_orderkey", o, "o_orderkey"),
        ind("c_nationkey<=n_nationkey", c, "c_nationkey", n,
          "n_nationkey"),
        ind("s_nationkey<=n_nationkey", su, "s_nationkey", n,
          "n_nationkey"),
        ind("n_regionkey<=r_regionkey", n, "n_regionkey", r,
          "r_regionkey"),
        ind("c_custkey<=o_custkey", c, "c_custkey", o, "o_custkey"))
        .reduce(_ unionAll _)
        .orderBy(col("candidate"))
    }),

    "q381_tree_rollup" -> ((s, dir) => {
      // Hierarchical subtree rollup over the implied div-10 customer
      // tree (parent(x) = x div 10): subtree totals for every internal
      // node WITHOUT recursion — each row explodes to its <= 7
      // ancestors (depth is digit-bounded), one hash aggregate does
      // the whole tree. The scale-correct form of the recursive-CTE
      // org-chart rollup: depth-bounded explode beats iteration at
      // any corpus size. Top-10 internal nodes by exact subtree cents.
      import s.implicits._
      val base = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
      val pows = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)
        .toDF("p")
      val anc = base.crossJoin(broadcast(pows))
        .select(expr("ck div p").as("node"), col("v"),
          when(col("p") === 1, 0L).otherwise(1L).as("is_desc"))
        .filter(col("node") > 0)
      val roll = anc.groupBy(col("node"))
        .agg(sum(col("v")).as("subtree_cents"),
          sum(col("is_desc")).as("n_desc"))
        .filter(col("n_desc") > 0)
      roll.orderBy(col("subtree_cents").desc, col("node")).limit(10)
        .select(col("node"), col("n_desc"),
          round(col("subtree_cents").cast("double") / 100.0, 2)
            .as("subtree_dollars"))
    }),

    "q382_late_events" -> ((s, dir) => {
      // Watermark replay in batch: with arrival order = event_id and a
      // 1-hour watermark (max event time seen so far minus 1h), which
      // events would streaming ingestion drop as late? The prefix MAX
      // over arrival order runs two-phase like PrefixSum (range
      // partition -> per-partition window keyed by partition id ->
      // broadcast per-partition offsets) — no global-order window
      // task at any scale. Exact microsecond arithmetic both engines.
      val ev = events(s, dir)
        .select(col("event_id").as("id"), col("event_type").as("et"),
          unix_micros(col("ts")).as("tsu"))
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = ev.repartitionByRange(p, col("id"))
        .withColumn("__pid", spark_partition_id())
        // persist, not localCheckpoint: exactly two consumers over a wide
        // 2M-row frame — the columnar cache's vectorized decode beats the
        // raw-row checkpoint scan here (r9 A/B-confirmed +1.3 CPU-s under
        // the checkpoint; the only conversion site where persist won).
        // pid stability across the two reads is pinned either way.
        .persist()
      val offs = ranged.groupBy(col("__pid"))
        .agg(max(col("tsu")).as("pmax"))
      val wOff = Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = offs
        .withColumn("__off", max(col("pmax")).over(wOff))
        .select(col("__pid"), col("__off"))
      val wRun = Window.partitionBy(col("__pid")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val marked = ranged
        .withColumn("__run", max(col("tsu")).over(wRun))
        .join(broadcast(offsets), Seq("__pid"))
        .withColumn("wm", greatest(coalesce(col("__run"), lit(Long.MinValue)),
          coalesce(col("__off"), lit(Long.MinValue))) - 3600000000L)
        .withColumn("late",
          when(col("__run").isNull && col("__off").isNull, 0L)
            .otherwise(when(col("tsu") < col("wm"), 1L).otherwise(0L)))
      marked.groupBy(col("et"))
        .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"))
        .select(col("et"), col("n_events"), col("n_late"),
          round(col("n_late").cast("double") / col("n_events"), 4)
            .as("late_share"))
        .orderBy(col("et"))
    }),

    "q383_weighted_median" -> ((s, dir) => {
      // Weighted median unit price per return flag (weights =
      // quantities): the "typical traded price" a plain median
      // misstates when line sizes vary. Grouped two-phase prefix sums
      // over the (price, key)-ordered weights; the median is the first
      // row where 2*cumweight >= total — exact integer arithmetic end
      // to end.
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("fl"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          col("l_quantity").cast("long").as("w"),
          (expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)") *
            lit(17179869184L) + col("l_orderkey") * 8 +
            col("l_linenumber")).as("ok"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        base, "fl", "ok", col("w"), "cw")
      val tot = base.groupBy(col("fl")).agg(sum(col("w")).as("tw"))
      cum.join(broadcast(tot), Seq("fl"))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("fl"), col("tw"))
        .agg(min(col("cents")).as("med_cents"))
        .select(col("fl").as("returnflag"), col("tw").as("total_weight"),
          round(col("med_cents").cast("double") / 100.0, 2)
            .as("weighted_median_price"))
        .orderBy(col("returnflag"))
    }),

    "q384_overdispersion" -> ((s, dir) => {
      // Count-data overdispersion report per event type on the
      // ZERO-FILLED user x type grid (skipping inactive users is the
      // classic way to fake Poisson-ness): dispersion index, observed
      // vs Poisson-predicted zero share, and the method-of-moments
      // negative-binomial size when variance exceeds the mean — the
      // "is a Poisson model even admissible" gate for rate modeling.
      val ev = events(s, dir)
        .select(col("user_id").as("u"), col("event_type").as("et"))
      val cnts = ev.groupBy(col("u"), col("et")).agg(count(lit(1)).as("c"))
      val grid = ev.select(col("u")).distinct()
        .crossJoin(ev.select(col("et")).distinct())
      val filled = grid.join(cnts, Seq("u", "et"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      filled.groupBy(col("et"))
        .agg(count(lit(1)).as("n_users"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"),
          sum(when(col("c") === 0, 1L).otherwise(0L)).as("z"))
        .select(col("et"), col("n_users"),
          (col("s1").cast("double") / col("n_users")).as("m"),
          ((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("n_users")) /
            (col("n_users") - 1)).as("v"),
          (col("z").cast("double") / col("n_users")).as("z_obs"))
        .select(col("et"), col("n_users"), round(col("m"), 4).as("mean"),
          round(col("v"), 4).as("variance"),
          round(col("v") / col("m"), 4).as("dispersion"),
          round(col("z_obs"), 4).as("zero_share_obs"),
          round(exp(-col("m")), 6).as("zero_share_poisson"),
          when(col("v") > col("m"),
            round(col("m") * col("m") / (col("v") - col("m")), 4))
            .as("nb_size"))
        .orderBy(col("et"))
    }),

    "q385_gumbel_maxima" -> ((s, dir) => {
      // Gumbel fit on weekly maximum order values (block maxima,
      // method of moments): location/scale from the calendar-bounded
      // maxima series, and the 99% return level — "the weekly max to
      // expect once per 100 weeks". The extreme-value companion to
      // q262's Hill tail index (maxima vs tail-ratio view).
      val wk = t(s, dir, "orders")
        .groupBy((datediff(to_date(col("o_orderdate")),
          lit("1992-01-01")).cast("long") / lit(7L)).cast("long")
          .as("wk"))
        .agg(max(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("mx"))
      val st = wk.agg(count(lit(1)).as("nw"), sum(col("mx")).as("s1"),
          sum(col("mx") * col("mx")).as("s2"))
        .select(col("nw"),
          (col("s1").cast("double") / col("nw") / 100.0).as("m"),
          (sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("nw")) /
            (col("nw") - 1)) / 100.0).as("sd"))
      st.select(col("nw").as("n_weeks"),
          (col("sd") * math.sqrt(6.0) / math.Pi).as("beta"),
          col("m"), col("sd"))
        .select(col("n_weeks"),
          (col("m") - lit(0.5772156649015329) * col("beta")).as("mu"),
          col("beta"))
        .select(col("n_weeks"), round(col("mu"), 2).as("gumbel_mu"),
          round(col("beta"), 2).as("gumbel_beta"),
          round(col("mu") - col("beta") *
            log(-log(lit(0.99))), 2).as("return_level_p99"))
    }),

    "q386_pot_gpd" -> ((s, dir) => {
      // Peaks-over-threshold: excesses above the EXACT p95 rank of
      // order value, generalized-Pareto shape/scale by method of
      // moments, and the extrapolated 99.9% quantile — the POT view
      // that uses every tail point (q385's block maxima throw away
      // all but the weekly winner). Threshold at an exact rank keeps
      // the excess set engine-identical.
      val o = t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("v"), col("o_orderkey").as("ok"))
      val ranked = graft.ops.PrefixSum.globalRank(
        o, Seq(col("v"), col("ok")), "rk")
      val nn = o.agg(count(lit(1)).as("n"))
      val thr = ranked.crossJoin(broadcast(nn))
        .filter(col("rk") === expr("(n * 95 + 99) div 100"))
        .select(col("v").as("u"), col("n"))
      val exc = o.crossJoin(broadcast(thr))
        .filter(col("v") > col("u"))
        .select(((col("v") - col("u")).cast("double") / 100.0).as("e"),
          col("u"), col("n"))
      val st = exc.groupBy(col("u"), col("n"))
        .agg(count(lit(1)).as("nu"), avg(col("e")).as("me"),
          sum(col("e") * col("e")).as("s2"))
        .select(col("u"), col("n"), col("nu"), col("me"),
          ((col("s2") - col("nu") * col("me") * col("me")) /
            (col("nu") - 1)).as("ve"))
        .select(col("u"), col("n"), col("nu"), col("me"),
          (lit(0.5) * (lit(1.0) - col("me") * col("me") / col("ve")))
            .as("xi"),
          (lit(0.5) * col("me") *
            (col("me") * col("me") / col("ve") + 1)).as("beta"))
      st.select(round(col("u").cast("double") / 100.0, 2)
            .as("threshold_p95"),
          col("nu").as("n_excesses"), round(col("xi"), 4).as("gpd_xi"),
          round(col("beta"), 2).as("gpd_beta"),
          round(col("u").cast("double") / 100.0 + col("beta") /
            col("xi") * (pow(col("n").cast("double") / col("nu") *
              0.001, -col("xi")) - 1), 2).as("q999_est"))
    }),

    "q387_robust_location" -> ((s, dir) => {
      // Robust central tendency of order value: 5% trimmed mean (drop
      // both tails) and 5% winsorized mean (clamp to the exact cut
      // values) vs the raw mean — how much heavy tails move the
      // headline average. Exact rank cuts; all sums stay integer
      // cents until the final divisions.
      val o = t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("v"), col("o_orderkey").as("ok"))
      val ranked = graft.ops.PrefixSum.globalRank(
        o, Seq(col("v"), col("ok")), "rk")
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
        .withColumn("k", expr("(n * 5) div 100"))
      val cuts = ranked
        .filter(col("rk") === col("k") + 1 ||
          col("rk") === col("n") - col("k"))
        .groupBy(col("n"), col("k"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val agg = ranked.crossJoin(broadcast(cuts.select(col("lo"),
          col("hi"))))
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sraw"),
          sum(when(col("rk") > col("k") &&
            col("rk") <= col("n") - col("k"), col("v")).otherwise(0L))
            .as("strim"),
          sum(when(col("rk") > col("k") &&
            col("rk") <= col("n") - col("k"), 1L).otherwise(0L))
            .as("ntrim"),
          sum(greatest(least(col("v"), col("hi")), col("lo")))
            .as("swin"))
      agg.select(col("n_orders"),
        round(col("sraw").cast("double") / col("n_orders") / 100.0, 2)
          .as("mean_raw"),
        round(col("strim").cast("double") / col("ntrim") / 100.0, 2)
          .as("mean_trimmed5"),
        round(col("swin").cast("double") / col("n_orders") / 100.0, 2)
          .as("mean_winsorized5"))
    }),

    "q388_octile_shape" -> ((s, dir) => {
      // Quantile-based robust shape: Bowley (quartile) skewness and
      // Moors (octile) kurtosis of order value — outlier-immune where
      // q351's moment skew/kurtosis saturate on heavy tails. All
      // eight octiles picked at exact ceil(i*n/8) ranks in one
      // conditional pass.
      val o = t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("v"), col("o_orderkey").as("ok"))
      val ranked = graft.ops.PrefixSum.globalRank(
        o, Seq(col("v"), col("ok")), "rk")
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
      val oct = ranked.agg(
        max(col("n")).as("n"),
        (1 to 7).map(i =>
          max(when(col("rk") === expr(s"(n * $i + 7) div 8"), col("v")))
            .as(s"e$i")): _*)
      oct.select(col("n").as("n_orders"),
        round((col("e6") + col("e2") - lit(2) * col("e4"))
          .cast("double") /
          (col("e6") - col("e2")), 4).as("bowley_skew"),
        round(((col("e7") - col("e5")) + (col("e3") - col("e1")))
          .cast("double") /
          (col("e6") - col("e2")), 4).as("moors_kurtosis"))
    }),

    "q389_imputation_audit" -> ((s, dir) => {
      // Imputation quality audit with a KNOWN ground truth: mask 20%
      // of balances missing by deterministic key hash, impute from the
      // (nation, segment) cell mean of the OBSERVED rows (global-mean
      // fallback), score MAE and bias against the held-out truth.
      // The "how much does group imputation actually buy" report every
      // data-repair pipeline should ship with.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("sg"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"),
          (pmod(Sampling.keyHash(col("c_custkey")), lit(10L)) < 2)
            .as("miss"))
      val obs = base.filter(!col("miss"))
      val cell = obs.groupBy(col("nk"), col("sg"))
        .agg((sum(col("v")).cast("double") / count(lit(1))).as("cm"))
      val glob = obs.agg((sum(col("v")).cast("double") / count(lit(1)))
        .as("gm"))
      base.filter(col("miss"))
        .join(broadcast(cell), Seq("nk", "sg"), "left")
        .crossJoin(broadcast(glob))
        .select(col("v"), coalesce(col("cm"), col("gm")).as("grp"),
          col("gm"))
        .agg(count(lit(1)).as("n_missing"),
          avg(abs(col("grp") - col("v"))).as("mae_g"),
          avg(col("grp") - col("v")).as("bias_g"),
          avg(abs(col("gm") - col("v"))).as("mae_gl"))
        .select(col("n_missing"),
          round(col("mae_g") / 100.0, 2).as("mae_group"),
          round(col("bias_g") / 100.0, 2).as("bias_group"),
          round(col("mae_gl") / 100.0, 2).as("mae_global"))
    }),

    "q390_k_anonymity" -> ((s, dir) => {
      // k-anonymity / l-diversity audit: quasi-identifier = (nation,
      // exact acctbal decile), sensitive attribute = market segment.
      // Reports the smallest QI group (k), the share of customers in
      // groups below k=5 (re-identifiable), and the share of groups
      // with a single sensitive value (attribute disclosure even at
      // high k). Deciles from the two-phase global rank — exact, so
      // the QI partition is engine-identical.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("sg"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("v"))
      val ranked = graft.ops.PrefixSum.globalRank(
        base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("dec", expr("((rk - 1) * 10) div n"))
      val grp = ranked.groupBy(col("nk"), col("dec"))
        .agg(count(lit(1)).as("sz"), countDistinct(col("sg")).as("l"))
      grp.agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_rows"),
          min(col("sz")).as("k_min"),
          sum(when(col("sz") < 5, col("sz")).otherwise(0L))
            .as("rows_lt5"),
          min(col("l")).as("l_min"),
          sum(when(col("l") < 2, 1L).otherwise(0L)).as("groups_l1"))
        .select(col("n_groups"), col("n_rows"), col("k_min"),
          round(col("rows_lt5").cast("double") / col("n_rows"), 4)
            .as("share_rows_below_k5"),
          col("l_min"),
          round(col("groups_l1").cast("double") / col("n_groups"), 4)
            .as("share_groups_l1"))
    }),

    "q391_holt_winters" -> ((s, dir) => {
      // Additive Holt-Winters (season length 4) over the 27-quarter
      // revenue series — q364's Holt plus a seasonal state vector,
      // folded the same way: one Recurrence of 23 fixed-operand steps
      // on a ONE-row wide frame, one-step MAE accumulated in-fold.
      // Each step touches exactly one seasonal slot, and the slots
      // rotate with the step: s0 is always this step's slot (quarter
      // tt mod 4), s1..s3 the next ones, and the updated s0 moves to
      // the back. So the step needs no index, and after quarter 26 s0
      // holds slot 27 mod 4 = 3, the forecast's.
      val qidx = expr(
        "(year(o_orderdate) - 1992) * 4 + (month(o_orderdate) - 1) div 3")
      val aggs = (0 to 26).map(k =>
        (sum(when(qidx === k,
          expr("CAST(floor(o_totalprice) AS BIGINT)")).otherwise(0L)) /
          1000.0).cast("double").as(s"y$k"))
      val wide = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
      val initL = (col("y0") + col("y1") + col("y2") + col("y3")) / 4
      val initB = ((col("y4") + col("y5") + col("y6") + col("y7")) / 4 -
        (col("y0") + col("y1") + col("y2") + col("y3")) / 4) / 4
      val fit = Recurrence.overInputs(Seq("l" -> initL, "b" -> initB,
          "s0" -> (col("y0") - initL), "s1" -> (col("y1") - initL),
          "s2" -> (col("y2") - initL), "s3" -> (col("y3") - initL),
          "sae" -> lit(0.0)),
          array((4 to 26).map(tt => col(s"y$tt")): _*)) { (st, y) =>
        val pred = st("l") + st("b") + st("s0")
        val l2 = lit(0.3) * (y - st("s0")) + lit(0.7) * (st("l") + st("b"))
        Seq(l2, lit(0.1) * (l2 - st("l")) + lit(0.9) * st("b"),
          st("s1"), st("s2"), st("s3"),
          lit(0.2) * (y - l2) + lit(0.8) * st("s0"),
          st("sae") + abs(y - pred))
      }
      wide.select(fit.as("f")).select(lit(27L).as("n_quarters"),
        round(col("f.l"), 2).as("level_kusd"),
        round(col("f.b"), 2).as("trend_kusd"),
        round(col("f.l") + col("f.b") + col("f.s0"), 2).as("forecast_kusd"),
        round(col("f.sae") / 23.0, 2).as("mae_kusd"))
    }),

    "q392_cliffs_delta" -> ((s, dir) => {
      // Cliff's delta effect size between 1995 and 1996 order values —
      // the magnitude companion to rank TESTS (q278 says "different",
      // this says "by how much", robustly): P(X>Y) - P(X<Y) computed
      // from value-grouped counts + grouped prefix sums over the
      // shared value grid. No pair enumeration at any scale; exact
      // integers until the two final divisions.
      val base = orderCentsByYear(s, dir)
      val cnt = base.groupBy(col("yr"), col("v"))
        .agg(count(lit(1)).as("c"))
      val grid = base.select(col("v")).distinct()
        .crossJoin(base.select(col("yr")).distinct())
      val filled = grid.join(cnt, Seq("yr", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        filled, "yr", "v", col("c"), "cum")
      val c96 = cum.filter(col("yr") === 1996)
        .select(col("v"), col("c").as("c96"), col("cum").as("cum96"))
      val c95 = cnt.filter(col("yr") === 1995)
        .select(col("v"), col("c").as("c95"))
      val tots = base.groupBy(col("yr")).agg(count(lit(1)).as("n"))
      val n95 = tots.filter(col("yr") === 1995).select(col("n").as("n95"))
      val n96 = tots.filter(col("yr") === 1996).select(col("n").as("n96"))
      c95.join(c96, Seq("v"))
        .crossJoin(broadcast(n96))
        .agg(sum(col("c95") * (col("cum96") - col("c96"))).as("gt"),
          sum(col("c95") * (col("n96") - col("cum96"))).as("lt"),
          sum(col("c95") * col("c96")).as("eq"))
        .crossJoin(broadcast(n95)).crossJoin(broadcast(n96))
        .select(col("n95"), col("n96"),
          round((col("gt") - col("lt")).cast("double") /
            (col("n95").cast("double") * col("n96")), 6)
            .as("cliffs_delta"),
          round((col("gt").cast("double") + lit(0.5) * col("eq")) /
            (col("n95").cast("double") * col("n96")), 4)
            .as("p_superiority"))
    }),

    "q393_g_test" -> ((s, dir) => {
      // G-test (log-likelihood-ratio chi-square) of segment x order-
      // priority independence: 2*sum O*ln(O*N/(R*C)) over the bounded
      // 5x5 table — additive across cells where Pearson's chi2 is not
      // (the property that makes G the right base for q152-style MI
      // decompositions; in fact G = 2N*MI). Exact integer margins;
      // df=16 survival in the even-df closed form.
      val cells = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("sg")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("sg"), col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy(col("sg")).agg(sum(col("o")).as("r"))
      val cols_ = cells.groupBy(col("pr")).agg(sum(col("o")).as("c"))
      val nn = cells.agg(sum(col("o")).as("n"))
      val g = cells.join(broadcast(rows), Seq("sg"))
        .join(broadcast(cols_), Seq("pr"))
        .crossJoin(broadcast(nn))
        .agg(count(lit(1)).as("n_cells"), max(col("n")).as("n"),
          (lit(2.0) * sum(col("o") * log(col("o").cast("double") *
            col("n") / (col("r").cast("double") * col("c"))))).as("g"))
      val h = col("g") / 2
      val ser = (0 to 7).map(j =>
        pow(h, j.toDouble) / (1 to j).map(_.toDouble).product)
        .reduce(_ + _)
      g.select(col("n").as("n_orders"), col("n_cells"),
        round(col("g"), 4).as("g_stat"),
        round(exp(-h) * ser, 6).as("p_approx"))
    }),

    "q394_weibull_fit" -> ((s, dir) => {
      // Weibull fit of customer lifespans by median-rank regression:
      // ln(-ln(1-F)) on ln(duration) with Bernard's approximation
      // F_i = (i-0.3)/(n+0.4) at exact global ranks — the standard
      // reliability-engineering estimator, closed-form and
      // deterministic where MLE iteration is not. Shape < 1 reads as
      // infant-mortality churn, > 1 as wear-out.
      val durs = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
          .cast("long").as("dur"))
        .filter(col("dur") > 0)
      val ranked = graft.ops.PrefixSum.globalRank(
        durs, Seq(col("dur"), col("o_custkey")), "i")
        .crossJoin(broadcast(durs.agg(count(lit(1)).as("n"))))
      val pts = ranked.select(log(col("dur").cast("double")).as("x"),
        log(-log(lit(1.0) - (col("i").cast("double") - 0.3) /
          (col("n").cast("double") + 0.4))).as("y"))
      val fit = pts.agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .select(col("n"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n"))).as("k"),
          col("sx"), col("sy"))
        .select(col("n"), col("k"),
          ((col("sy") - col("k") * col("sx")) / col("n")).as("b"))
      fit.select(col("n").cast("long").as("n_cust"),
        round(col("k"), 4).as("weibull_shape"),
        round(exp(-col("b") / col("k")), 2).as("weibull_scale_days"),
        round(exp(-col("b") / col("k")) *
          pow(lit(math.log(2.0)), lit(1.0) / col("k")), 2)
          .as("median_days"))
    }),

    "q395_proportion_cis" -> ((s, dir) => {
      // Three confidence intervals for the per-segment high-balance
      // share: Wald (the one everyone uses), Wilson (the one that
      // works), Agresti-Coull (the compromise) — side by side so the
      // Wald undercoverage near the boundary is visible in the data,
      // not a textbook footnote. Closed forms from exact integer
      // (n, x) per segment.
      val z = lit(1.959963984540054)
      val base = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 5000, 1L).otherwise(0L)).as("x"))
        .select(col("segment"), col("n"), col("x"),
          (col("x").cast("double") / col("n")).as("p"))
      base.select(col("segment"), col("n"), col("x"),
          round(col("p"), 4).as("p_hat"),
          round(col("p") - z * sqrt(col("p") * (lit(1.0) - col("p")) /
            col("n")), 4).as("wald_lo"),
          round(col("p") + z * sqrt(col("p") * (lit(1.0) - col("p")) /
            col("n")), 4).as("wald_hi"),
          round((col("p") + z * z / (lit(2) * col("n")) -
            z * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              z * z / (lit(4.0) * col("n") * col("n")))) /
            (lit(1.0) + z * z / col("n")), 4).as("wilson_lo"),
          round((col("p") + z * z / (lit(2) * col("n")) +
            z * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              z * z / (lit(4.0) * col("n") * col("n")))) /
            (lit(1.0) + z * z / col("n")), 4).as("wilson_hi"),
          round((col("x") + z * z / 2) / (col("n") + z * z) -
            z * sqrt(((col("x") + z * z / 2) / (col("n") + z * z)) *
              (lit(1.0) - (col("x") + z * z / 2) / (col("n") + z * z)) /
              (col("n") + z * z)), 4).as("ac_lo"),
          round((col("x") + z * z / 2) / (col("n") + z * z) +
            z * sqrt(((col("x") + z * z / 2) / (col("n") + z * z)) *
              (lit(1.0) - (col("x") + z * z / 2) / (col("n") + z * z)) /
              (col("n") + z * z)), 4).as("ac_hi"))
        .orderBy(col("segment"))
    }),

    "q396_james_stein" -> ((s, dir) => {
      // James-Stein shrinkage of per-brand mean prices toward the
      // grand mean: the estimator that DOMINATES per-group averages
      // whenever there are >= 4 groups — the principled version of
      // "don't trust small-sample brand averages". Shrink factor from
      // the average variance of the means; cent moments run in DECIMAL
      // (exact and overflow-safe — the f10 relational scale-up
      // overflowed the long sum of squared cents) and drop to double
      // only in the per-brand mean/variance composition, which is
      // bit-exact below 2^53 (every oracle sf).
      val g = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("ng"),
          sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS " +
            "DECIMAL(18,0))")).as("s1"),
          sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS " +
            "DECIMAL(18,0)) * CAST(floor(l_extendedprice * 100 + 0.5) " +
            "AS DECIMAL(18,0))")).as("s2"))
        .select(col("brand"), col("ng"),
          (col("s1").cast("double") / col("ng")).as("xb"),
          ((col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("ng")) /
            (col("ng") - 1) / col("ng")).as("vm"))
      val st = g.agg(count(lit(1)).as("k"),
          (sum(col("xb")) / count(lit(1))).as("gm"),
          avg(col("vm")).as("vbar"))
      val dev = g.crossJoin(broadcast(st))
        .agg(max(col("k")).as("k"), max(col("gm")).as("gm"),
          max(col("vbar")).as("vbar"),
          sum((col("xb") - col("gm")) * (col("xb") - col("gm")))
            .as("ss"))
        .select(col("k"), col("gm"),
          greatest(lit(0.0), lit(1.0) -
            (col("k") - 3).cast("double") * col("vbar") / col("ss"))
            .as("c"))
      g.crossJoin(broadcast(dev))
        .select(col("brand"), col("ng"),
          round(col("xb") / 100.0, 2).as("mean_raw"),
          round((col("gm") + col("c") * (col("xb") - col("gm"))) / 100.0,
            2).as("mean_shrunk"),
          round(col("c"), 6).as("shrink_factor"))
        .orderBy(col("brand"))
    }),

    "q397_variogram" -> ((s, dir) => {
      // Empirical semivariogram of supplier balances over q320's
      // deterministic LCG coordinates: gamma(h) = avg((z_i - z_j)^2)/2
      // per 40k distance band, pairs generated by the SAME grid-bucket
      // expansion (7x7 neighbor cells reach the 120k max lag) — the
      // spatial-correlation-range diagnostic, never an all-pairs join.
      // Distances and squared differences are exact integers.
      val r = 40000L
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("sk"),
          pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L))
            .as("x"),
          pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L))
            .as("y"),
          expr("CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)").as("z"))
      val offs = s.range(-3, 4).select(col("id").as("dx"))
        .crossJoin(s.range(-3, 4).select(col("id").as("dy")))
      val expd = sup.crossJoin(broadcast(offs))
        .select(col("sk"), col("x"), col("y"), col("z"),
          (expr(s"x div $r") + col("dx")).as("cx"),
          (expr(s"y div $r") + col("dy")).as("cy"))
      val base = sup
        .withColumn("cx", expr(s"x div $r"))
        .withColumn("cy", expr(s"y div $r"))
      val pairs = base.as("a").join(expd.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
          col("a.sk") < col("b.sk"))
        .select(col("a.z").as("za"), col("b.z").as("zb"),
          ((col("a.x") - col("b.x")) * (col("a.x") - col("b.x")) +
           (col("a.y") - col("b.y")) * (col("a.y") - col("b.y")))
            .as("d2"))
        .filter(col("d2") > 0 && col("d2") <= lit(120000L * 120000L))
        .select(col("za"), col("zb"),
          when(col("d2") <= r * r, 1L)
            .when(col("d2") <= 4 * r * r, 2L).otherwise(3L).as("band"))
      pairs.groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum((col("za") - col("zb")) * (col("za") - col("zb")))
            .cast("double") / (lit(2.0) * count(lit(1))) / 10000.0)
            .as("gamma"))
        .select(col("band"), col("n_pairs"),
          round(col("gamma"), 2).as("semivariance_usd2"))
        .orderBy(col("band"))
    }),

    "q398_srm_check" -> ((s, dir) => {
      // Sample-ratio-mismatch guardrail: deterministic 50/50 keyHash
      // assignment of customers, observed split vs expected, chi2(1)
      // via the A&S erf survival — the first thing to check before
      // reading ANY experiment result (a biased assignment invalidates
      // q294/q347 downstream). Exact integer counts.
      val asg = t(s, dir, "customer")
        .select(pmod(Sampling.keyHash(col("c_custkey")), lit(2L))
          .as("arm"))
        .groupBy(col("arm")).agg(count(lit(1)).as("c"))
      val st = asg.agg(sum(col("c")).as("n"),
          sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("a"))
        .select(col("n"), col("a"), (col("n") - col("a")).as("b"))
        .select(col("n"), col("a"), col("b"),
          (((col("a") - col("b")) * (col("a") - col("b")))
            .cast("double") / col("n")).as("chi2"))
      val xs = sqrt(col("chi2")) / math.sqrt(2.0)
      val ts = lit(1.0) / (lit(1.0) + lit(0.3275911) * xs)
      st.select(col("n").as("n_cust"), col("a").as("arm0"),
        col("b").as("arm1"), round(col("chi2"), 4).as("chi2"),
        round((lit(0.254829592) * ts - lit(0.284496736) * ts * ts +
          lit(1.421413741) * ts * ts * ts - lit(1.453152027) *
          ts * ts * ts * ts + lit(1.061405429) * ts * ts * ts * ts * ts) *
          exp(-xs * xs), 6).as("p_value"),
        (((col("a") - col("b")) * (col("a") - col("b")))
          .cast("double") / col("n") > 3.841).as("srm_flag"))
    }),

    "q399_skyline" -> ((s, dir) => {
      // 2-D skyline (Pareto front) of parts: minimize retail price,
      // maximize size. A part survives iff its size exceeds the max
      // size of every STRICTLY cheaper part — computed as an exclusive
      // prefix max over the price-grouped table via the two-phase
      // pattern (range partition + per-partition window + broadcast
      // offsets), so no global-order task at any catalog size.
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("pk"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
            .as("price"),
          col("p_size").cast("long").as("sz"))
      val grp = parts.groupBy(col("price"))
        .agg(max(col("sz")).as("gmax"))
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = grp.repartitionByRange(p, col("price"))
        .withColumn("__pid", spark_partition_id())
        .materialize
      val offs = ranged.groupBy(col("__pid"))
        .agg(max(col("gmax")).as("pmax"))
      val wOff = Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = offs.withColumn("__off", max(col("pmax")).over(wOff))
        .select(col("__pid"), col("__off"))
      val wRun = Window.partitionBy(col("__pid")).orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val excl = ranged
        .withColumn("__run", max(col("gmax")).over(wRun))
        .join(broadcast(offsets), Seq("__pid"))
        .select(col("price"),
          greatest(coalesce(col("__run"), lit(-1L)),
            coalesce(col("__off"), lit(-1L))).as("emax"))
      val sky = parts.join(excl, Seq("price"))
        .filter(col("sz") > col("emax"))
        .join(grp, Seq("price"))
        .filter(col("sz") === col("gmax"))
      val cnt = sky.agg(count(lit(1)).as("n_skyline"))
      sky.crossJoin(broadcast(cnt))
        .select(col("n_skyline"), col("pk").as("partkey"),
          round(col("price").cast("double") / 100.0, 2).as("price"),
          col("sz").as("size"))
        .orderBy(col("price"), col("partkey"))
        .limit(10)
    }),

    "q400_holm_stepdown" -> ((s, dir) => {
      // Holm step-down FWER correction over the five segment z-tests —
      // the family-wise companion closing the loop with q271's BH FDR
      // on the SAME fixture: reject p_(i) <= alpha/(m-i+1) while every
      // smaller p also rejected (the step-down stop is a running
      // conjunction over the bounded 5-row table). Identical
      // left-associated A&S p computation to q271.
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
        .select(col("c_mktsegment"),
          ((col("h1") / col("n1") - (col("h") - col("h1")) /
            (col("n") - col("n1"))) /
            sqrt((col("h") / col("n")) * (lit(1.0) - col("h") / col("n")) *
              (lit(1.0) / col("n1") +
                lit(1.0) / (col("n") - col("n1"))))).as("z"))
      val x = abs(col("z")) / math.sqrt(2.0)
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val withP = per.select(col("c_mktsegment"), col("z"),
        ((lit(0.254829592) * tt - lit(0.284496736) *
          tt * tt + lit(1.421413741) * tt * tt * tt - lit(1.453152027) *
          tt * tt * tt * tt + lit(1.061405429) * tt * tt * tt * tt * tt) *
          exp(-x * x)).as("p"))
      val ranked = graft.ops.PrefixSum.globalRank(withP,
          Seq(col("p"), col("c_mktsegment")), "rk")
        .withColumn("alpha_holm", lit(0.05) /
          (lit(6.0) - col("rk").cast("double")))
        .withColumn("pass", when(col("p") <= col("alpha_holm"), 1L)
          .otherwise(0L))
      // step-down: rejected iff ALL ranks <= rk passed (bounded table —
      // the 5-row window is broadcast-sized by construction)
      val wCum = Window.orderBy(col("rk"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ranked.withColumn("allpass", min(col("pass")).over(wCum))
        .select(col("c_mktsegment"), round(col("z"), 4).as("z"),
          round(col("p"), 6).as("p_two_sided"), col("rk").as("p_rank"),
          round(col("alpha_holm"), 4).as("alpha_holm"),
          (col("allpass") === 1).as("rejected"))
        .orderBy(col("c_mktsegment"))
    }),

    "q401_nelson_aalen" -> ((s, dir) => {
      // Nelson-Aalen cumulative hazard + Fleming-Harrington survival +
      // hazard SE over the SAME churn fixture as q177 (duration = first
      // to last order span, event = >90-day silence before corpus end).
      // H(t)=Σd/n and Var=Σd/n² are running sums over the calendar-
      // bounded distinct-duration table; every risk set comes from ONE
      // suffix count (two-phase prefix sum), so no per-customer window
      // exists at any customer count.
      val cust = survivalCohort(s, dir)
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d_events"))
      val tot = byDur.agg(sum(col("c_all")).as("n_total"))
      val risk = graft.ops.PrefixSum.groupedRunningSum(
          byDur.withColumn("__g", lit(1)), "__g", "dur", col("c_all"),
          "cum_all")
        .crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
      // the running NA sums are over event rows only — a calendar-bounded
      // frame, so the single-partition window is broadcast-sized
      risk.filter(col("d_events") > 0)
        .withColumn("ch", sum(col("d_events").cast("double") /
          col("n_risk").cast("double")).over(durRunning))
        .withColumn("vs", sum(col("d_events").cast("double") /
          (col("n_risk").cast("double") * col("n_risk").cast("double")))
          .over(durRunning))
        .select(col("dur").as("duration_days"), col("n_risk"),
          col("d_events"), round(col("ch"), 6).as("cum_hazard"),
          round(exp(-col("ch")), 6).as("fh_survival"),
          round(sqrt(col("vs")), 6).as("se_hazard"))
        .orderBy(col("duration_days"))
    }),

    "q402_adstock" -> ((s, dir) => {
      // geometric adstock (decay 0.6, lag horizon 7 days) of daily view
      // pressure, OLS-regressed on daily purchase counts — the media-mix
      // carryover transform. The carryover is a BOUNDED lag explode (8
      // rows/day) re-aggregated on the target date: a fixed 8× map-side
      // expansion + one date-key aggregate at any history length, never a
      // sequential driver scan; the OLS closes in one tiny aggregate.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("buys"))
      val contrib = daily
        .select(col("d"), col("views"),
          explode(sequence(lit(0), lit(7))).as("l"))
        .select(date_add(col("d"), col("l")).as("td"),
          (col("views").cast("double") * pow(lit(0.6), col("l"))).as("wv"))
      val ad = contrib.groupBy(col("td")).agg(sum(col("wv")).as("adstock"))
      val j = daily.join(ad, col("d") === col("td"))
        .select(col("adstock").as("x"), col("buys").cast("double").as("y"))
      val sums = j.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
      val b = (col("n_days") * col("sxy") - col("sx") * col("sy")) /
        (col("n_days") * col("sxx") - col("sx") * col("sx"))
      sums.select(col("n_days"), round(b, 6).as("slope"),
        round((col("sy") - b * col("sx")) / col("n_days"), 6).as("intercept"),
        round(pow(col("n_days") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n_days") * col("sxx") - col("sx") * col("sx")) *
            (col("n_days") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
    }),

    "q403_chrf" -> ((s, dir) => {
      // character-bigram chrF between each doc and its mutated near-dup
      // copy (id+100000 = text from char 21): clipped-count precision/
      // recall/F over bigram multisets, reported as a 10-bin F histogram.
      // Bigram counts are per-doc partial aggregates bounded by doc
      // length; the pair join ships only (doc_id, gram, count) rows —
      // never the texts — and the histogram collapses map-side.
      // materialized: consumed by both sides of the overlap join; the r9
      // persist() attempt was a measured pessimization (columnar cache
      // encode/decode), but the raw-row lazy checkpoint computes the
      // explode+aggregate subtree once instead of once per consumer
      val grams = docsWithNearDups(s, dir)
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .materialize
      val ref = grams.filter(col("doc_id") < 100000)
      val hyp = grams.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("doc_id"), col("g"),
          col("c").as("ch"))
      val overlap = ref.join(hyp, Seq("doc_id", "g"))
        .groupBy(col("doc_id"))
        .agg(sum(least(col("c"), col("ch"))).as("ov"))
      // per-doc bigram totals come straight off the text length: the
      // transform emits exactly length-1 bigrams per doc (all non-null),
      // so sum(c) per doc == length(text)-1 under the same len>=2 cut —
      // no second and third aggregate pass over the gram table
      val lens = docsWithNearDups(s, dir)
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), (length(col("text")) - 1).cast("long").as("t"))
      val totR = lens.filter(col("doc_id") < 100000)
        .select(col("doc_id"), col("t").as("tr"))
      val totH = lens.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("doc_id"), col("t").as("th"))
      // inner totR⋈totH keeps pairs where BOTH sides have ≥1 bigram (the
      // oracle applies the same length cut); zero-overlap pairs keep F=0
      val f = totR.join(totH, Seq("doc_id"))
        .join(overlap, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("ov"), lit(0L)).cast("double") / col("th")).as("p"),
          (coalesce(col("ov"), lit(0L)).cast("double") / col("tr")).as("r"))
        .withColumn("f", when(col("p") + col("r") > 0,
          lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .otherwise(lit(0.0)))
      f.groupBy(floor(col("f") * 10).cast("long").as("f_bin"))
        .agg(count(lit(1)).as("n_pairs"), round(avg(col("f")), 6).as("avg_chrf"))
        .orderBy(col("f_bin"))
    }),

    "q404_link_prediction" -> ((s, dir) => {
      // link prediction over the undirected item-transition graph (q134's
      // edge fixture): common-neighbor / Jaccard / Adamic-Adar scores for
      // the top non-adjacent pairs. Candidates come from the neighbor
      // posting-list self-join — every shuffle row is an id pair, never an
      // adjacency list; at corpus scale a hub-degree cap bounds the
      // quadratic hub fanout (the 100-item fixture needs none). Ordering
      // is on the ROUNDED score so ulp-level sum differences can't
      // reshuffle the top-k across engines.
      // cap each user at their first 25 events so the graph's density is
      // scale-invariant: uncapped, the 100-item fixture saturates to a
      // complete graph at sf0.1 and the non-adjacent candidate set is empty
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .withColumn("rn", row_number().over(byUser))
        .filter(col("rn") <= 25)
      val und = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .select(least(col("src"), col("item")).as("a"),
          greatest(col("src"), col("item")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
      val deg = nbrs.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val cand = nbrs.select(col("nbr").as("z"), col("node").as("u"))
        .join(nbrs.select(col("nbr").as("z"), col("node").as("v")), Seq("z"))
        .filter(col("u") < col("v"))
        .join(deg.select(col("node").as("z"), col("deg").as("dz")), Seq("z"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("cn"),
          sum(lit(1.0) / log(col("dz").cast("double"))).as("aa"))
      cand
        .join(und, cand("u") === und("a") && cand("v") === und("b"),
          "left_anti")
        .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
        .select(col("u").as("node_a"), col("v").as("node_b"), col("cn"),
          round(col("cn").cast("double") /
            (col("du") + col("dv") - col("cn")).cast("double"), 6)
            .as("jaccard"),
          round(col("aa"), 6).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("cn").desc, col("node_a"),
          col("node_b"))
        .limit(20)
    }),

    "q405_getis_ord" -> ((s, dir) => {
      // Getis-Ord Gi* hot-spot z-scores over the q320/q397 LCG supplier
      // coordinates, aggregated to a FIXED 8x8 cell grid (binary 3x3
      // neighborhood incl. self). The only data-sized pass is the
      // cell rollup; the neighbor join and the Gi* algebra run over the
      // bounded 64-cell universe (empty cells participate with value 0,
      // so the statistic is scale-invariant in shape).
      val cell = 125000L
      val sup = t(s, dir, "supplier")
        .select(
          (pmod(col("s_suppkey") * 48271L + 99991L, lit(1000000L))
            .cast("long") / cell).cast("long").as("cx"),
          (pmod(col("s_suppkey") * 16807L + 12347L, lit(1000000L))
            .cast("long") / cell).cast("long").as("cy"),
          expr("CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)").as("z"))
      val occ = sup.groupBy(col("cx"), col("cy")).agg(sum(col("z")).as("v"))
      val uni = s.range(8).select(col("id").as("cx"))
        .crossJoin(s.range(8).select(col("id").as("cy")))
        .join(occ, Seq("cx", "cy"), "left")
        .select(col("cx"), col("cy"),
          coalesce(col("v"), lit(0L)).cast("double").as("x"))
      val stats = uni.agg(count(lit(1)).cast("double").as("n"),
        avg(col("x")).as("xbar"),
        sqrt(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("sd"))
      val offs = s.range(-1, 2).select(col("id").as("dx"))
        .crossJoin(s.range(-1, 2).select(col("id").as("dy")))
      val nbr = uni.crossJoin(broadcast(offs))
        .select((col("cx") + col("dx")).as("cx"),
          (col("cy") + col("dy")).as("cy"), col("x").as("nx"))
      val gi = uni.join(nbr, Seq("cx", "cy"))
        .groupBy(col("cx"), col("cy"))
        .agg(sum(col("nx")).as("s1"), count(lit(1)).cast("double").as("wi"))
        .crossJoin(broadcast(stats))
        .select(col("cx"), col("cy"), col("wi").cast("long").as("n_nbrs"),
          round((col("s1") - col("wi") * col("xbar")) /
            (col("sd") * sqrt((col("n") * col("wi") - col("wi") * col("wi"))
              / (col("n") - 1))), 6).as("gi_star"))
      gi.orderBy(col("cx"), col("cy"))
    }),

    "q406_unpivot" -> ((s, dir) => {
      // wide→long melt via stack() — the OLAP unpivot companion to q43's
      // pivot: per-returnflag metric columns unpivoted to (metric, value)
      // rows. The wide frame is aggregate-bounded, so the 3x expansion is
      // a free projection at any scale; rounding happens BEFORE the melt
      // so both engines stack identical doubles.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .selectExpr("l_returnflag",
          "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, " +
            "'avg_disc', avg_disc) AS (metric, value)")
        .orderBy(col("l_returnflag"), col("metric"))
    }),

    "q407_forecast_accuracy" -> ((s, dir) => {
      // forecast-accuracy gallery (MAE / RMSE / sMAPE / MASE) for the
      // naive (lag-1) and seasonal-naive (lag-7) one-step forecasters on
      // the daily event-count series — the backtest scorecard companion
      // to q259/q364. The series is calendar-bounded, so the lag window
      // and both aggregates run over a broadcast-sized frame; MASE scales
      // every model by the naive in-sample MAE.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
      val scored = daily
        .withColumn("f1", lag(col("y"), 1).over(w))
        .withColumn("f7", lag(col("y"), 7).over(w))
        .select(col("y"), explode(array(
          struct(lit("naive").as("model"), col("f1").as("f")),
          struct(lit("snaive").as("model"), col("f7").as("f")))).as("mf"))
        .select(col("y"), col("mf.model").as("model"), col("mf.f").as("f"))
        .filter(col("f").isNotNull)
      val metrics = scored.groupBy(col("model"))
        .agg(count(lit(1)).as("n"),
          avg(abs(col("f") - col("y"))).as("mae"),
          sqrt(avg((col("f") - col("y")) * (col("f") - col("y"))))
            .as("rmse"),
          avg(lit(2.0) * abs(col("f") - col("y")) /
            (abs(col("f")) + abs(col("y")))).as("smape"))
      val scale = metrics.filter(col("model") === "naive")
        .select(col("mae").as("mae_naive"))
      metrics.crossJoin(broadcast(scale))
        .select(col("model"), col("n"), round(col("mae"), 6).as("mae"),
          round(col("rmse"), 6).as("rmse"),
          round(col("smape"), 6).as("smape"),
          round(col("mae") / col("mae_naive"), 6).as("mase"))
        .orderBy(col("model"))
    }),

    "q408_newey_west" -> ((s, dir) => {
      // daily purchase-count trend with Newey-West HAC standard errors
      // (Bartlett kernel, lag 2) next to the plain OLS SE — the
      // autocorrelation-robust inference companion to q323's
      // Durbin-Watson. Closed-form OLS from one aggregate; the score
      // autocovariances are two explicit lags over the calendar-bounded
      // daily frame, never a data-sized window.
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("y"))
      val dmin = daily.agg(min(col("d")).as("d0"))
      val td = daily.crossJoin(broadcast(dmin))
        .select(datediff(col("d"), col("d0")).cast("double").as("x"),
          col("y"))
      val sums = td.agg(count(lit(1)).cast("double").as("n"),
        avg(col("x")).as("xbar"), avg(col("y")).as("ybar"),
        sum(col("x") * col("x")).as("sxx_raw"),
        sum(col("x") * col("y")).as("sxy_raw"))
      val fit = sums.select(col("n"), col("xbar"), col("ybar"),
        (col("sxx_raw") - col("n") * col("xbar") * col("xbar")).as("sxx"),
        ((col("sxy_raw") - col("n") * col("xbar") * col("ybar")) /
          (col("sxx_raw") - col("n") * col("xbar") * col("xbar")))
          .as("slope"))
      val resid = td.crossJoin(broadcast(fit))
        .select(col("n"), col("x"), col("sxx"), col("slope"),
          (col("x") - col("xbar")).as("xc"),
          (col("y") - col("ybar") - col("slope") * (col("x") - col("xbar")))
            .as("e"))
        .withColumn("u", col("xc") * col("e"))
      val w = Window.orderBy(col("x"))
      val lagged = resid
        .withColumn("u1", lag(col("u"), 1).over(w))
        .withColumn("u2", lag(col("u"), 2).over(w))
      lagged.groupBy(col("n"), col("sxx"), col("slope"))
        .agg(sum(col("e") * col("e")).as("sse"),
          sum(col("u") * col("u")).as("g0"),
          sum(col("u") * coalesce(col("u1"), lit(0.0))).as("g1"),
          sum(col("u") * coalesce(col("u2"), lit(0.0))).as("g2"))
        .select(col("n").cast("long").as("n_days"),
          round(col("slope"), 6).as("slope"),
          round(sqrt(col("sse") / (col("n") - 2) / col("sxx")), 6)
            .as("se_ols"),
          round(sqrt((col("g0") + lit(2.0) * (lit(1.0) - lit(1.0) / 3.0) *
            col("g1") + lit(2.0) * (lit(1.0) - lit(2.0) / 3.0) *
            col("g2")) / (col("sxx") * col("sxx"))), 6).as("se_nw"))
        .withColumn("nw_ratio",
          round(col("se_nw") / col("se_ols"), 6))
    }),

    "q409_lorenz_deciles" -> ((s, dir) => {
      // Lorenz curve at decile resolution over per-customer lifetime
      // spend — the distributional companion to q170's Gini scalar.
      // Spend in exact integer cents; decile membership from the
      // two-phase global rank (no whole-table NTILE window), so both the
      // partition and every share are engine-identical at any customer
      // count.
      val base = customerOrderCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("cents"), col("o_custkey")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("dec", expr("((rk - 1) * 10) div n"))
      val byDec = ranked.groupBy(col("dec"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("c"))
      val tot = byDec.agg(sum(col("c")).as("ct"))
      val w = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, 0)
      byDec.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("c")).over(w))
        .select(col("dec").as("decile"), col("n_cust"),
          round(col("c").cast("double") / col("ct"), 6).as("share"),
          round(col("cum").cast("double") / col("ct"), 6).as("cum_share"))
        .orderBy(col("decile"))
    }),

    "q410_inequality_indices" -> ((s, dir) => {
      // Atkinson(0.5) + Palma ratio + tail shares over the SAME spend
      // fixture as q409 — the welfare-weighted inequality scalars next to
      // q170 (Gini) and q327 (Theil). Atkinson needs one extra sqrt
      // moment; Palma reuses the exact decile partition, so everything
      // closes in two tiny aggregates over integer-cent sums.
      val base = customerOrderCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("cents"), col("o_custkey")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("dec", expr("((rk - 1) * 10) div n"))
        .withColumn("x", col("cents").cast("double") / 100.0)
      ranked.agg(count(lit(1)).as("n_cust"),
          avg(col("x")).as("mu"), avg(sqrt(col("x"))).as("msq"),
          sum(col("cents")).as("ct"),
          sum(when(col("dec") === 9, col("cents")).otherwise(0L))
            .as("top10"),
          sum(when(col("dec") <= 3, col("cents")).otherwise(0L))
            .as("bot40"))
        .select(col("n_cust"),
          round(lit(1.0) - col("msq") * col("msq") / col("mu"), 6)
            .as("atkinson_05"),
          round(col("top10").cast("double") / col("bot40"), 6)
            .as("palma_ratio"),
          round(col("top10").cast("double") / col("ct"), 6)
            .as("top10_share"),
          round(col("bot40").cast("double") / col("ct"), 6)
            .as("bottom40_share"))
    }),

    "q411_crow_amsaa" -> ((s, dir) => {
      // Crow-AMSAA (Duane) reliability-growth fit: ln N(t) vs ln t OLS
      // over the error-event failure sequence, t in hours since corpus
      // start. beta < 1 = reliability improving, > 1 = degrading — the
      // fleet-health trend read. Failure indices come from the two-phase
      // global rank; the log-log OLS closes in one aggregate.
      val ev = events(s, dir)
      val t0 = ev.agg(min(unix_micros(col("ts"))).as("t0"))
      val fails = ev.filter(col("event_type") === "error")
        .select(col("ts"), col("event_id"))
      val ranked = graft.ops.PrefixSum.globalRank(
          fails, Seq(col("ts"), col("event_id")), "k")
        .crossJoin(broadcast(t0))
        .select(col("k"),
          ((unix_micros(col("ts")) - col("t0")).cast("double") / 3.6e9)
            .as("t_hours"))
        .filter(col("t_hours") > 0)
      val sums = ranked
        .select(log(col("t_hours")).as("lx"),
          log(col("k").cast("double")).as("ly"))
        .agg(count(lit(1)).cast("double").as("n"), avg(col("lx")).as("mx"),
          avg(col("ly")).as("my"), sum(col("lx") * col("lx")).as("sxx"),
          sum(col("lx") * col("ly")).as("sxy"))
      sums.select(col("n").cast("long").as("n_failures"),
          round((col("sxy") - col("n") * col("mx") * col("my")) /
            (col("sxx") - col("n") * col("mx") * col("mx")), 6).as("beta"))
        .withColumn("trend", when(col("beta") < 1.0, lit("improving"))
          .otherwise(lit("degrading")))
    }),

    "q412_aalen_johansen" -> ((s, dir) => {
      // Aalen-Johansen cumulative incidence for two competing churn
      // causes over the q177 duration fixture (cause 1 = churned with a
      // final order >= $150k, cause 2 = other churn): CIF_k(t) =
      // Σ S(s-)·d_k/n with S the any-event KM survival, all from ONE
      // suffix count over the calendar-bounded distinct-duration table.
      // The exclusive running product is a [unbounded, -1) log-sum.
      val cust = survivalCohortBySize(s, dir)
      val byDur = cust.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("event") && col("big"), 1L).otherwise(0L)).as("d1"),
          sum(when(col("event") && !col("big"), 1L).otherwise(0L)).as("d2"))
      val tot = byDur.agg(sum(col("c_all")).as("n_total"))
      val risk = graft.ops.PrefixSum.groupedRunningSum(
          byDur.withColumn("__g", lit(1)), "__g", "dur", col("c_all"),
          "cum_all")
        .crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - (col("cum_all") - col("c_all")))
        .filter(col("d1") + col("d2") > 0)
      val wPrev = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val dAll = (col("d1") + col("d2")).cast("double")
      risk
        // ln(1 - d/n) guarded: only the terminal duration can have n == d
        // (suffix counts are strictly decreasing across event times), and
        // its own ln never enters any exclusive prefix window
        .withColumn("lnS", when(col("n_risk") > col("d1") + col("d2"),
          log(lit(1.0) - dAll / col("n_risk").cast("double")))
          .otherwise(lit(0.0)))
        .withColumn("sPrev",
          exp(coalesce(sum(col("lnS")).over(wPrev), lit(0.0))))
        .withColumn("cif1", sum(col("sPrev") *
          col("d1").cast("double") / col("n_risk").cast("double"))
          .over(durRunning))
        .withColumn("cif2", sum(col("sPrev") *
          col("d2").cast("double") / col("n_risk").cast("double"))
          .over(durRunning))
        .select(col("dur").as("duration_days"), col("n_risk"), col("d1"),
          col("d2"), round(col("cif1"), 6).as("cif_bigspender"),
          round(col("cif2"), 6).as("cif_other"))
        .orderBy(col("duration_days"))
    }),

    "q413_edit_distance" -> ((s, dir) => {
      // Levenshtein similarity between each doc's 40-char prefix and its
      // mutated copy's (the copy drops the first 20 chars, so the windows
      // overlap by 20) — the char-level ER companion to q157's
      // Jaro-Winkler. The DP cost is capped at 40x40 per pair by the
      // prefix cut, rows ship as (id, 40 chars), and the similarity
      // histogram collapses map-side.
      val a = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 40).as("ta"))
      val b = t(s, dir, "documents")
        .select(col("doc_id"),
          substring(expr("substring(text, 21)"), 1, 40).as("tb"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id"), levenshtein(col("ta"), col("tb")).as("d"),
          greatest(length(col("ta")), length(col("tb")), lit(1)).as("mx"))
        .withColumn("sim",
          lit(1.0) - col("d").cast("double") / col("mx"))
        .groupBy(floor(col("sim") * 10).cast("long").as("sim_bin"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("sim")), 6).as("avg_sim"),
          round(avg(col("d").cast("double")), 4).as("avg_dist"))
        .orderBy(col("sim_bin"))
    }),

    "q414_clark_evans" -> ((s, dir) => {
      // Clark-Evans nearest-neighbor randomness test over the q397 LCG
      // supplier coordinates: R = observed mean NN distance / expected
      // under CSR, with the normal z-score. NN search is the SAME 7x7
      // grid-bucket expansion as the variogram — never an all-pairs
      // join; points whose NN falls outside the 3-cell reach are
      // excluded by construction (documented blocked-NN semantics,
      // identical on both engines).
      val r = 40000L
      val sup = supplierPoints(s, dir)
      val offs = s.range(-3, 4).select(col("id").as("dx"))
        .crossJoin(s.range(-3, 4).select(col("id").as("dy")))
      val expd = sup.crossJoin(broadcast(offs))
        .select(col("sk"), col("x"), col("y"),
          (expr(s"x div $r") + col("dx")).as("cx"),
          (expr(s"y div $r") + col("dy")).as("cy"))
      val base = sup
        .withColumn("cx", expr(s"x div $r"))
        .withColumn("cy", expr(s"y div $r"))
      val nn = base.as("a").join(expd.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
            col("a.sk") =!= col("b.sk"))
        .groupBy(col("a.sk"))
        .agg(min((col("a.x") - col("b.x")) * (col("a.x") - col("b.x")) +
          (col("a.y") - col("b.y")) * (col("a.y") - col("b.y")))
          .as("d2"))
      val n = sup.agg(count(lit(1)).cast("double").as("n_all"))
      nn.crossJoin(broadcast(n))
        .agg(first(col("n_all")).as("n_all"),
          count(lit(1)).cast("double").as("n_nn"),
          avg(sqrt(col("d2").cast("double"))).as("obs"))
        .select(col("n_all").cast("long").as("n_points"),
          col("n_nn").cast("long").as("n_with_nn"),
          round(col("obs"), 4).as("mean_nn_obs"),
          round(lit(0.5) / sqrt(col("n_all") / 1e12), 4)
            .as("mean_nn_exp"),
          round(col("obs") / (lit(0.5) / sqrt(col("n_all") / 1e12)), 6)
            .as("r_ratio"),
          round((col("obs") - lit(0.5) / sqrt(col("n_all") / 1e12)) /
            (lit(0.26136) / sqrt(col("n_nn") * col("n_all") / 1e12)), 6)
            .as("z"))
    }),

    "q415_bradley_terry" -> ((s, dir) => {
      // Bradley-Terry strengths for the five event types from daily
      // count "contests" (i beats j on a day iff its count is higher;
      // ties skipped), fit by 10 MM iterations with per-round
      // normalization. The only data-sized pass is the daily rollup —
      // the win matrix collapses to ONE wide row and the fold is one
      // Recurrence of plain arithmetic (q391's pattern).
      val types = Seq("click", "error", "purchase", "signup", "view")
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === types.head, 1L).otherwise(0L))
          .as(s"c_0"),
          types.indices.tail.map(i =>
            sum(when(col("event_type") === types(i), 1L).otherwise(0L))
              .as(s"c_$i")): _*)
      val winCols = for {
        i <- types.indices; j <- types.indices if i != j
      } yield sum(when(col(s"c_$i") > col(s"c_$j"), 1L).otherwise(0L))
        .as(s"w_${i}_$j")
      val wNames = (for {
        i <- types.indices; j <- types.indices if i != j
      } yield col(s"w_${i}_$j")).toSeq
      val fit = Recurrence.iterate(
          types.indices.map(i => s"p$i" -> lit(0.2)), 10) { st =>
        val qs = types.indices.map { i =>
          val wi = types.indices.filter(_ != i)
            .map(j => col(s"w_${i}_$j")).reduce(_ + _).cast("double")
          val denom = types.indices.filter(_ != i).map { j =>
            (col(s"w_${i}_$j") + col(s"w_${j}_$i")).cast("double") /
              (st(s"p$i") + st(s"p$j"))
          }.reduce(_ + _)
          wi / denom
        }
        val qsum = qs.reduce(_ + _)
        qs.map(_ / qsum)
      }
      val wins = types.indices.map { i =>
        types.indices.filter(_ != i).map(j => col(s"w_${i}_$j"))
          .reduce(_ + _).as(s"W$i")
      }
      daily.agg(winCols.head, winCols.tail: _*)
        .select(wNames :+ fit.as("f"): _*)
        .select(wins ++ types.indices.map(i => col(s"f.p$i").as(s"p$i")): _*)
        .selectExpr("stack(5, " + types.indices.map(i =>
          s"'${types(i)}', W$i, round(p$i, 6)").mkString(", ") +
          ") AS (event_type, wins, strength)")
        .orderBy(col("strength").desc, col("event_type"))
    }),

    "q416_mixture_em" -> ((s, dir) => {
      // 2-component Gaussian mixture EM on customer balances, 4 fixed
      // iterations from a moment-based init (mu ± sd/2, shared sd,
      // pi=0.5) — unsupervised density estimation next to the supervised
      // q138 classifier. Each iteration is ONE aggregate pass (the
      // normal-constant cancels in the responsibilities); component-2
      // moments come from complements, so the state is 5 scalars
      // broadcast back per round.
      val xs = t(s, dir, "customer")
        .select(col("c_acctbal").cast("double").as("x"))
      var params = xs
        .agg(avg(col("x")).as("mu"), stddev_pop(col("x")).as("sd"))
        .select(lit(0.5).as("pi1"),
          (col("mu") - lit(0.5) * col("sd")).as("mu1"), col("sd").as("s1"),
          (col("mu") + lit(0.5) * col("sd")).as("mu2"), col("sd").as("s2"))
      for (it <- 1 to 4) {
        val j = xs.crossJoin(broadcast(params))
        val f1 = col("pi1") *
          exp(-(col("x") - col("mu1")) * (col("x") - col("mu1")) /
            (lit(2.0) * col("s1") * col("s1"))) / col("s1")
        val f2 = (lit(1.0) - col("pi1")) *
          exp(-(col("x") - col("mu2")) * (col("x") - col("mu2")) /
            (lit(2.0) * col("s2") * col("s2"))) / col("s2")
        val r = (f1 / (f1 + f2)).as("r")
        params = j.select(col("x"), r)
          .agg(count(lit(1)).cast("double").as("n"), sum(col("r")).as("s0"),
            sum(col("r") * col("x")).as("s1x"),
            sum(col("r") * col("x") * col("x")).as("s2x"),
            sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
          .select((col("s0") / col("n")).as("pi1"),
            (col("s1x") / col("s0")).as("mu1"),
            sqrt(col("s2x") / col("s0") -
              (col("s1x") / col("s0")) * (col("s1x") / col("s0"))).as("s1"),
            ((col("sx") - col("s1x")) / (col("n") - col("s0"))).as("mu2"),
            sqrt((col("sxx") - col("s2x")) / (col("n") - col("s0")) -
              ((col("sx") - col("s1x")) / (col("n") - col("s0"))) *
              ((col("sx") - col("s1x")) / (col("n") - col("s0"))))
              .as("s2"))
      }
      xs.agg(count(lit(1)).as("n_rows")).crossJoin(broadcast(params))
        .select(col("n_rows"), round(col("pi1"), 6).as("pi1"),
          round(col("mu1"), 4).as("mu1"), round(col("s1"), 4).as("sigma1"),
          round(col("mu2"), 4).as("mu2"), round(col("s2"), 4).as("sigma2"))
    }),

    "q417_rolling_beta" -> ((s, dir) => {
      // rolling 10-day OLS beta (and correlation) of daily purchases on
      // daily views — the moving-sensitivity read next to q104's plain
      // rolling aggregates. Window sums are over INTEGER counts, so
      // every windowed moment is exact and the two ratios are the only
      // doubles; the frame is calendar-bounded, so the unpartitioned
      // window is broadcast-sized by construction.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val w = Window.orderBy(col("d")).rowsBetween(-9, 0)
      val roll = daily
        .withColumn("nn", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("sxy", sum(col("x") * col("y")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .filter(col("nn") === 10)
      val num = (lit(10L) * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val dx = (lit(10L) * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dy = (lit(10L) * col("syy") - col("sy") * col("sy"))
        .cast("double")
      roll.select(date_format(col("d"), "yyyy-MM-dd").as("d"),
          round(num / dx, 6).as("beta"),
          round(num / sqrt(dx * dy), 6).as("corr"))
        .orderBy(col("d"))
    }),

    "q418_sax" -> ((s, dir) => {
      // SAX symbolization of the daily event-count series: z-normalize,
      // 5-day PAA segments, 4-letter alphabet on the standard normal
      // breakpoints (±0.6745, 0) — the symbolic time-series sketch that
      // feeds motif/novelty mining. Day indices from the two-phase
      // global rank; everything after the daily rollup runs on the
      // calendar-bounded frame.
      val daily = dailyEvents(s, dir)
      val stats = daily.agg(avg(col("y")).as("mu"),
        sqrt(avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("sd"))
      val ranked = graft.ops.PrefixSum.globalRank(
          daily, Seq(col("d")), "rn")
        .crossJoin(broadcast(stats))
        .select((expr("(rn - 1) div 5")).as("segment"),
          ((col("y") - col("mu")) / col("sd")).as("z"))
      ranked.groupBy(col("segment"))
        .agg(count(lit(1)).as("n_days"), avg(col("z")).as("paa"))
        .select(col("segment"), col("n_days"), round(col("paa"), 6)
            .as("paa"),
          when(col("paa") < -0.6745, "a")
            .when(col("paa") < 0.0, "b")
            .when(col("paa") < 0.6745, "c")
            .otherwise("d").as("symbol"))
        .orderBy(col("segment"))
    }),

    "q419_cox_ph" -> ((s, dir) => {
      // Cox proportional hazards (binary big-spender covariate, Breslow
      // ties, 3 Newton steps from beta=0) on the q412 churn fixture —
      // THE survival regression. With a binary covariate the partial-
      // likelihood score needs only per-group risk counts, so the whole
      // fit runs on the calendar-bounded duration table: one suffix
      // count per group, then three one-row Newton updates.
      val cust = survivalCohortBySize(s, dir)
      val byDur = cust.groupBy(col("dur"))
        .agg(sum(when(!col("big"), 1L).otherwise(0L)).as("c0"),
          sum(when(col("big"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("event") && !col("big"), 1L).otherwise(0L))
            .as("d0"),
          sum(when(col("event") && col("big"), 1L).otherwise(0L))
            .as("d1"))
      val tot = byDur.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
      val evt = byDur
        .withColumn("cum0", sum(col("c0")).over(durRunning))
        .withColumn("cum1", sum(col("c1")).over(durRunning))
        .crossJoin(broadcast(tot))
        .filter(col("d0") + col("d1") > 0)
        .select(
          (col("t0") - (col("cum0") - col("c0"))).cast("double").as("n0"),
          (col("t1") - (col("cum1") - col("c1"))).cast("double").as("n1"),
          col("d0").cast("double").as("d0"),
          col("d1").cast("double").as("d1"))
        .materialize
      var beta = s.range(1).select(lit(0.0).as("b"))
      for (it <- 1 to 3) {
        val j = evt.crossJoin(broadcast(beta))
        beta = j.agg(first(col("b")).as("b"),
            sum(col("d1") - (col("d0") + col("d1")) * col("n1") *
              exp(col("b")) / (col("n0") + col("n1") * exp(col("b"))))
              .as("u"),
            sum((col("d0") + col("d1")) * col("n0") * col("n1") *
              exp(col("b")) / ((col("n0") + col("n1") * exp(col("b"))) *
                (col("n0") + col("n1") * exp(col("b"))))).as("i_"))
          .select((col("b") + col("u") / col("i_")).as("b"))
      }
      val fin = evt.crossJoin(broadcast(beta))
        .agg(first(col("b")).as("b"),
          sum(col("d0") + col("d1")).cast("long").as("n_events"),
          sum((col("d0") + col("d1")) * col("n0") * col("n1") *
            exp(col("b")) / ((col("n0") + col("n1") * exp(col("b"))) *
              (col("n0") + col("n1") * exp(col("b"))))).as("i_"))
      val out = fin.select(col("n_events"), round(col("b"), 6).as("beta"),
        round(exp(col("b")), 6).as("hazard_ratio"),
        round(lit(1.0) / sqrt(col("i_")), 6).as("se"),
        round(col("b") * sqrt(col("i_")), 6).as("z"))
      out
    }),

    "q420_keyness" -> ((s, dir) => {
      // Dunning log-likelihood (G²) keyness of src0's vocabulary vs the
      // rest of the corpus — the standard corpus-comparison keyword
      // statistic (q149's chi2 ranks class-discriminative terms; this
      // contrasts a focus corpus against a reference). Posting lists
      // collapse to (term, side) partial counts map-side; the G² algebra
      // runs on the bounded ranked term table.
      val terms = t(s, dir, "documents")
        .select((col("source") === "src0").as("inA"),
          explode(TF.normTokens(col("text"))).as("term"))
      val cnt = terms.groupBy(col("term"))
        .agg(sum(when(col("inA"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("inA"), 1L).otherwise(0L)).as("b"))
        .filter(col("a") + col("b") >= 10)
      val tot = terms.agg(
        sum(when(col("inA"), 1L).otherwise(0L)).cast("double").as("na"),
        sum(when(!col("inA"), 1L).otherwise(0L)).cast("double").as("nb"))
      val g = cnt.crossJoin(broadcast(tot))
        .withColumn("ea", col("na") * (col("a") + col("b")) /
          (col("na") + col("nb")))
        .withColumn("eb", col("nb") * (col("a") + col("b")) /
          (col("na") + col("nb")))
        .withColumn("g2", round(lit(2.0) * (
          when(col("a") > 0,
            col("a") * log(col("a") / col("ea"))).otherwise(lit(0.0)) +
          when(col("b") > 0,
            col("b") * log(col("b") / col("eb"))).otherwise(lit(0.0))), 6))
        .withColumn("direction",
          when(col("a") / col("na") > (col("a") + col("b")) /
            (col("na") + col("nb")), lit("over")).otherwise(lit("under")))
      g.select(col("term"), col("a").as("freq_focus"),
          col("b").as("freq_rest"), col("g2"), col("direction"))
        .orderBy(col("g2").desc, col("term"))
        .limit(20)
    }),

    "q421_delong_auc" -> ((s, dir) => {
      // DeLong variance + CI for the q169 AUC (same q138 classifier):
      // per-score placement values V10/V01 from the SAME distinct-score
      // prefix sums that give the tie-correct rank AUC — no pair
      // enumeration at any scale; the structural components are weighted
      // variances over the bounded score table.
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val pts = scored.groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("cpos"),
          count(lit(1)).as("ctot"))
      val cum = graft.ops.PrefixSum.groupedRunningSums(
        pts.withColumn("__g", lit(1)), "__g", "p",
        Seq((col("ctot"), "cum_t"), (col("cpos"), "cum_p")))
      val tot = cum.agg(sum(col("cpos")).cast("double").as("np"),
        (sum(col("ctot")) - sum(col("cpos"))).cast("double").as("nn"))
      val v = cum.crossJoin(broadcast(tot))
        .select(col("cpos").cast("double").as("wp"),
          (col("ctot") - col("cpos")).cast("double").as("wn"),
          col("np"), col("nn"),
          ((col("cum_t") - col("ctot") - (col("cum_p") - col("cpos")) +
            lit(0.5) * (col("ctot") - col("cpos"))).cast("double") /
            col("nn")).as("v10"),
          ((col("cum_p") - col("cpos") + lit(0.5) * col("cpos"))
            .cast("double") / col("np")).as("v01"))
      v.agg(first(col("np")).as("np"), first(col("nn")).as("nn"),
          sum(col("wp") * col("v10")).as("swv10"),
          sum(col("wp") * col("v10") * col("v10")).as("swv10s"),
          sum(col("wn") * col("v01") * col("v01")).as("swv01s"))
        .select(col("np").cast("long").as("n_pos"),
          col("nn").cast("long").as("n_neg"),
          (col("swv10") / col("np")).as("auc"), col("np"), col("nn"),
          col("swv10s"), col("swv01s"))
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"),
          round(sqrt(
            (col("swv10s") - col("np") * col("auc") * col("auc")) /
              (col("np") - 1) / col("np") +
            (col("swv01s") - col("nn") * col("auc") * col("auc")) /
              (col("nn") - 1) / col("nn")), 6).as("se_delong"))
        .select(col("n_pos"), col("n_neg"), col("auc"), col("se_delong"),
          round(col("auc") - lit(1.96) * col("se_delong"), 6).as("ci_lo"),
          round(col("auc") + lit(1.96) * col("se_delong"), 6).as("ci_hi"))
    }),

    "q422_ewma_chart" -> ((s, dir) => {
      // retrospective EWMA control chart (lambda 0.2, 3-sigma) on the
      // daily event-count series: the closed-form z_t = mu(1-l)^t +
      // l·Σ(1-l)^(t-j)x_j comes from the bounded triangular self-join on
      // the calendar-bounded daily frame (the BNLJ is day² at 30 days —
      // intentional; at any history length the chart frame stays
      // calendar-bounded, never data-sized).
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      val stats = daily.agg(avg(col("x")).as("mu0"),
        sqrt(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("sd"))
      val rn = graft.ops.PrefixSum.globalRank(daily, Seq(col("d")), "rn")
      val hist = rn.select(col("rn").as("j"), col("x").as("xj"))
      val zsum = rn.as("a").join(hist.as("b"), col("b.j") <= col("a.rn"))
        .groupBy(col("a.d").as("d"), col("a.rn").as("rn"))
        .agg(sum(pow(lit(0.8), col("a.rn") - col("b.j")) * col("b.xj"))
          .as("wsum"))
      zsum.crossJoin(broadcast(stats))
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
          (col("mu0") * pow(lit(0.8), col("rn")) + lit(0.2) * col("wsum"))
            .as("z"),
          (col("sd") * lit(3.0) * sqrt(lit(0.2) / 1.8 *
            (lit(1.0) - pow(lit(0.64), col("rn"))))).as("band"),
          col("mu0"))
        .select(col("d"), round(col("z"), 4).as("ewma"),
          round(col("mu0") + col("band"), 4).as("ucl"),
          round(col("mu0") - col("band"), 4).as("lcl"),
          (col("z") > col("mu0") + col("band") ||
            col("z") < col("mu0") - col("band")).as("out_of_control"))
        .orderBy(col("d"))
    }),

    "q423_deming" -> ((s, dir) => {
      // Deming regression (errors in BOTH variables, delta=1) of daily
      // clicks on daily views, next to the plain OLS slope — the
      // measurement-error line fit used for method comparison. Closed
      // form from centered second moments; one tiny aggregate after the
      // daily rollup.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("double").as("x"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("double").as("y"))
      val m = daily.agg(count(lit(1)).as("n_days"), avg(col("x")).as("xb"),
        avg(col("y")).as("yb"),
        (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")))
          .as("sxx"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
          .as("syy"),
        (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y")))
          .as("sxy"))
      val dem = (col("syy") - col("sxx") +
        sqrt((col("syy") - col("sxx")) * (col("syy") - col("sxx")) +
          lit(4.0) * col("sxy") * col("sxy"))) / (lit(2.0) * col("sxy"))
      m.select(col("n_days"), round(dem, 6).as("deming_slope"),
        round(col("yb") - dem * col("xb"), 6).as("deming_intercept"),
        round(col("sxy") / col("sxx"), 6).as("ols_slope"))
    }),

    "q424_dyad_census" -> ((s, dir) => {
      // directed dyad census + edgewise reciprocity of the item-
      // transition graph: mutual / asymmetric / null dyad counts (the
      // Holland-Leinhardt M-A-N profile) say whether item flows are
      // two-way. Everything runs on the distinct-edge table — two
      // semijoins and closed-form null count, no pair enumeration.
      val ev = userItemEvents(s, dir)
      val ed = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .select(col("src"), col("item").as("dst"))
        .distinct()
      val und = ed.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val mutual = und
        .join(ed.select(col("src").as("a"), col("dst").as("b")),
          Seq("a", "b"), "left_semi")
        .join(ed.select(col("dst").as("a"), col("src").as("b")),
          Seq("a", "b"), "left_semi")
      val nodes = ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct()
      val cnts = ed.agg(count(lit(1)).as("m_dir"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("u"))))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("mut"))))
        .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
      cnts.selectExpr("n AS n_nodes", "m_dir AS n_directed_edges",
        "mut AS mutual", "u - mut AS asymmetric",
        "(n * (n - 1)) div 2 - u AS null_dyads",
        "round(2.0D * mut / m_dir, 6) AS reciprocity")
    }),

    "q425_dbscan_grid" -> ((s, dir) => {
      // grid-blocked DBSCAN (eps 60k, minPts 4) over the LCG supplier
      // coordinates: neighbor counts and core-core edges from the SAME
      // 3x3 cell join the variogram uses (cell size = eps, so every
      // eps-ball is covered), clusters = connectedComponents over core
      // edges (+ self-pairs so isolated cores keep their singleton
      // cluster). Border = non-core with a core neighbor. At scale this
      // is candidate-pair generation + the O(log d) CC rounds — never
      // an all-pairs join. Growth caveat (measured, BENCH_NOTES_r7 §5):
      // a FIXED eps over points growing on a FIXED range makes the
      // neighbor-pair OUTPUT itself quadratic (density grows linearly);
      // the grid join stays linear in that output, which is the lower
      // bound for DBSCAN's semantics — real growing corpora scale eps
      // down or the space up.
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
      val core = pairs.groupBy(col("pa")).agg(count(lit(1)).as("nb"))
        .filter(col("nb") >= 3).select(col("pa").as("sk"))
      val coreEdges = pairs
        .join(core.select(col("sk").as("pa")), Seq("pa"), "left_semi")
        .join(core.select(col("sk").as("pb")), Seq("pb"), "left_semi")
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
        .union(core.select(col("sk").as("pa"), col("sk").as("pb")))
      // bounded driver action: CC needs a non-empty edge list, and a
      // fixture with zero core points (sparse sf) legitimately has none
      val clus = if (coreEdges.limit(1).count() > 0)
        Dedup.connectedComponents(coreEdges)
          .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      else s.range(0).select(col("id").as("component"), col("id").as("sz"))
      val border = pairs
        .join(core.select(col("sk").as("pa")), Seq("pa"), "left_anti")
        .join(core.select(col("sk").as("pb")), Seq("pb"), "left_semi")
        .select(col("pa")).distinct()
      val out = sup.agg(count(lit(1)).as("n_points"))
        .crossJoin(broadcast(core.agg(count(lit(1)).as("n_core"))))
        .crossJoin(broadcast(border.agg(count(lit(1)).as("n_border"))))
        .crossJoin(broadcast(clus.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_clusters"),
          coalesce(max(col("sz")), lit(0L)).as("max_cluster"))))
        .select(col("n_points"), col("n_core"), col("n_border"),
          (col("n_points") - col("n_core") - col("n_border"))
            .as("n_noise"),
          col("n_clusters"), col("max_cluster"))
      out
    }),

    "q426_inventory_sim" -> ((s, dir) => {
      // deterministic (s,S) inventory replay against the 30-day purchase
      // demand series (reorder-up-to S=500 when below s=200, zero lead
      // time, unmet demand lost): q369 SIZES the policy, this MEASURES
      // one — service level, stockout units, orders placed. The demand
      // series folds as one Recurrence on a ONE-row wide frame (integer
      // arithmetic throughout, so the replay is exact on both engines).
      val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      val idx = events(s, dir)
        .filter(col("event_type") === "purchase")
        .crossJoin(broadcast(d0))
        .select(datediff(to_date(col("ts")), col("d0")).as("k"))
      val aggs = (0 to 29).map(k =>
        sum(when(col("k") === k, 1L).otherwise(0L)).as(s"y$k"))
      val wide = idx.agg(aggs.head, aggs.tail: _*)
      val ys = (0 to 29).map(k => col(s"y$k"))
      val sim = Recurrence.overInputs(Seq("inv" -> lit(500L),
          "n_orders" -> lit(0L), "lost" -> lit(0L)), array(ys: _*)) {
        (st, y) =>
          val pre = when(st("inv") < 200L, lit(500L)).otherwise(st("inv"))
          val ord = when(st("inv") < 200L, 1L).otherwise(0L)
          val after = pre - y
          Seq(greatest(after, lit(0L)), st("n_orders") + ord,
            st("lost") + greatest(-after, lit(0L)))
      }
      wide.select(ys :+ sim.as("sim"): _*)
        .select((ys.reduce(_ + _)).as("total_demand"),
          col("sim.n_orders").as("n_orders"),
          col("sim.lost").as("lost_units"),
          col("sim.inv").as("final_inventory"))
        .select(col("total_demand"), col("n_orders"), col("lost_units"),
          col("final_inventory"),
          round(lit(1.0) - col("lost_units").cast("double") /
            col("total_demand"), 6).as("service_level"))
    }),

    "q427_cronbach_alpha" -> ((s, dir) => {
      // Cronbach's alpha internal-consistency of the three q138 doc
      // features (scaled length, space ratio, digit ratio) treated as a
      // scale — the psychometric reliability read on feature batteries.
      // One aggregate pass: alpha = k/(k-1)·(1 - Σvar_i/var_total),
      // population variances from raw moments.
      val (feat, _) = classifierFeatures(s, dir)
      def pvar(c: Column) = avg(c * c) - avg(c) * avg(c)
      val tot = col("f_len") + col("f_space") + col("f_digit")
      feat.agg(count(lit(1)).as("n_docs"),
          pvar(col("f_len")).as("v1"), pvar(col("f_space")).as("v2"),
          pvar(col("f_digit")).as("v3"), pvar(tot).as("vt"))
        .select(col("n_docs"),
          round(lit(1.5) * (lit(1.0) -
            (col("v1") + col("v2") + col("v3")) / col("vt")), 6)
            .as("alpha"),
          round(col("v1"), 6).as("var_len"),
          round(col("v2"), 6).as("var_space"),
          round(col("v3"), 6).as("var_digit"),
          round(col("vt"), 6).as("var_total"))
    }),

    "q428_effect_sizes" -> ((s, dir) => {
      // parametric effect-size gallery for 1995 vs 1996 order values:
      // Cohen's d (pooled), Hedges' g (small-sample corrected), Glass's
      // delta (control-sd) — the magnitude companions to q392's
      // nonparametric Cliff's delta on the same fixture. Exact cent sums
      // until the final divisions.
      val base = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          (expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .cast("double") / 100.0).as("v"))
      val g = base.groupBy(col("yr"))
        .agg(count(lit(1)).cast("double").as("n"), avg(col("v")).as("m"),
          ((sum(col("v") * col("v")) - count(lit(1)) * avg(col("v")) *
            avg(col("v"))) / (count(lit(1)) - 1)).as("s2"))
      val a = g.filter(col("yr") === 1995)
        .select(col("n").as("n1"), col("m").as("m1"), col("s2").as("s21"))
      val b = g.filter(col("yr") === 1996)
        .select(col("n").as("n2"), col("m").as("m2"), col("s2").as("s22"))
      val sp = sqrt(((col("n1") - 1) * col("s21") +
        (col("n2") - 1) * col("s22")) / (col("n1") + col("n2") - 2))
      val d = (col("m1") - col("m2")) / sp
      a.crossJoin(broadcast(b))
        .select(col("n1").cast("long").as("n_1995"),
          col("n2").cast("long").as("n_1996"),
          round(col("m1") - col("m2"), 4).as("mean_diff"),
          round(d, 6).as("cohens_d"),
          round(d * (lit(1.0) - lit(3.0) /
            (lit(4.0) * (col("n1") + col("n2")) - 9)), 6).as("hedges_g"),
          round((col("m1") - col("m2")) / sqrt(col("s22")), 6)
            .as("glass_delta"))
    }),

    "q429_tail_dependence" -> ((s, dir) => {
      // empirical upper/lower tail-dependence of per-customer lifetime
      // spend vs order count — the copula diagnostic beyond q268's
      // Spearman: do the SAME customers sit in both extremes? Rank-based
      // (two two-phase global ranks, tie-broken on key), so the 20% tail
      // sets are exact and engine-identical; lambda = joint tail mass /
      // marginal tail mass.
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("spend"), count(lit(1)).as("n_ord"))
      val r1 = graft.ops.PrefixSum.globalRank(
        base, Seq(col("spend"), col("o_custkey")), "rs")
      val r2 = graft.ops.PrefixSum.globalRank(
        r1, Seq(col("n_ord"), col("o_custkey")), "ro")
      val withN = r2.crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("k", expr("(8 * n) div 10"))
      withN.agg(first(col("n")).as("n"), first(col("k")).as("k"),
          sum(when(col("rs") > col("k") && col("ro") > col("k"), 1L)
            .otherwise(0L)).as("joint_up"),
          sum(when(col("rs") <= col("n") - col("k") &&
            col("ro") <= col("n") - col("k"), 1L).otherwise(0L))
            .as("joint_lo"))
        .select(col("n").as("n_cust"),
          (col("n") - col("k")).as("tail_size"),
          round(col("joint_up").cast("double") / (col("n") - col("k")), 6)
            .as("lambda_upper"),
          round(col("joint_lo").cast("double") / (col("n") - col("k")), 6)
            .as("lambda_lower"),
          round((col("n") - col("k")).cast("double") / col("n"), 6)
            .as("independent_ref"))
    }),

    "q430_turning_points" -> ((s, dir) => {
      // turning-points randomness test on the daily event-count series:
      // T vs E[T]=2(n-2)/3, Var=(16n-29)/90 — the local-extrema
      // complement to q276's runs test and q314's records test. A strict
      // sign-product cut (ties are not turning points), lag/lead over
      // the calendar-bounded daily frame.
      val daily = dailyEvents(s, dir)
      val w = Window.orderBy(col("d"))
      val tp = daily
        .withColumn("yp", lag(col("y"), 1).over(w))
        .withColumn("yn", lead(col("y"), 1).over(w))
        .filter(col("yp").isNotNull && col("yn").isNotNull)
        .select(when((col("y") - col("yp")) * (col("yn") - col("y")) < 0,
          1L).otherwise(0L).as("isTp"))
      val n = daily.agg(count(lit(1)).cast("double").as("n"))
      tp.agg(sum(col("isTp")).as("t")).crossJoin(broadcast(n))
        .select(col("n").cast("long").as("n_days"),
          col("t").as("turning_points"),
          round(lit(2.0) * (col("n") - 2) / 3.0, 4).as("expected"),
          round((col("t") - lit(2.0) * (col("n") - 2) / 3.0) /
            sqrt((lit(16.0) * col("n") - 29) / 90.0), 6).as("z"))
    }),

    "q431_growth_accounting" -> ((s, dir) => {
      // daily active-user growth accounting: DAU split into new /
      // retained / resurrected, plus churned (active yesterday, silent
      // today) and the quick ratio — the product-growth decomposition
      // next to q187's stickiness scalar. One distinct pass + per-user
      // lag/lead over active days; counts collapse map-side per day.
      val act = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val wU = Window.partitionBy(col("user_id")).orderBy(col("d"))
      val seq0 = act
        .withColumn("prev", lag(col("d"), 1).over(wU))
        .withColumn("nxt", lead(col("d"), 1).over(wU))
      val status = seq0.select(col("d"),
        when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
        when(col("prev") === date_add(col("d"), -1), 1L).otherwise(0L)
          .as("is_retained"),
        when(col("prev").isNotNull &&
          col("prev") < date_add(col("d"), -1), 1L).otherwise(0L)
          .as("is_resurrected"))
      val byDay = status.groupBy(col("d"))
        .agg(count(lit(1)).as("dau"), sum(col("is_new")).as("new_users"),
          sum(col("is_retained")).as("retained"),
          sum(col("is_resurrected")).as("resurrected"))
      // churn lands on the day AFTER the user's last consecutive day
      val maxD = act.agg(max(col("d")).as("mx"))
      val churn = seq0.crossJoin(broadcast(maxD))
        .filter(col("d") < col("mx") &&
          (col("nxt").isNull || col("nxt") > date_add(col("d"), 1)))
        .groupBy(date_add(col("d"), 1).as("d"))
        .agg(count(lit(1)).as("churned"))
      byDay.join(churn, Seq("d"), "left")
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("dau"),
          col("new_users"), col("retained"), col("resurrected"),
          coalesce(col("churned"), lit(0L)).as("churned"))
        .withColumn("quick_ratio",
          when(col("churned") > 0, round((col("new_users") +
            col("resurrected")).cast("double") / col("churned"), 4)))
        .orderBy(col("d"))
    }),

    "q432_median_ci" -> ((s, dir) => {
      // distribution-free 95% CI for the median customer balance from
      // binomial order-statistic ranks (normal approximation l = n/2 -
      // 1.96·√n/2) — the quantile-inference companion to q188/q217.
      // One two-phase global rank + one conditional aggregate; no
      // global-order task at any scale.
      val base = customerBalanceCents(s, dir)
      val ranked = graft.ops.PrefixSum.globalRank(
          base, Seq(col("v"), col("ck")), "rk")
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .withColumn("l", floor(col("n").cast("double") / 2 -
          lit(1.96) * sqrt(col("n").cast("double")) / 2).cast("long"))
        .withColumn("m1", expr("(n + 1) div 2"))
        .withColumn("m2", expr("(n + 2) div 2"))
      ranked.agg(first(col("n")).as("n"), first(col("l")).as("l"),
          sum(when(col("rk") === col("m1"), col("v")).otherwise(0L))
            .as("vm1"),
          sum(when(col("rk") === col("m2"), col("v")).otherwise(0L))
            .as("vm2"),
          sum(when(col("rk") === col("l"), col("v")).otherwise(0L))
            .as("vlo"),
          sum(when(col("rk") === col("n") - col("l") + 1, col("v"))
            .otherwise(0L)).as("vhi"))
        .select(col("n").as("n_cust"), col("l").as("rank_lo"),
          (col("n") - col("l") + 1).as("rank_hi"),
          round((col("vm1") + col("vm2")).cast("double") / 2 / 100.0, 4)
            .as("median"),
          round(col("vlo").cast("double") / 100.0, 2).as("ci_lo"),
          round(col("vhi").cast("double") / 100.0, 2).as("ci_hi"))
    }),

    "q433_hampel" -> ((s, dir) => {
      // Hampel filter on the daily event-count series: centered 7-day
      // rolling median + rolling MAD, flag |y - med| > 3·1.4826·MAD —
      // the robust despiking pass (q135's MAD rule per key, here per
      // rolling window). The window array is 7 INTEGER counts, so med
      // and MAD are exact; full windows only.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
      val arr = daily.selectExpr("d", "y",
        "collect_list(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND " +
          "3 FOLLOWING) AS win")
      arr.filter(size(col("win")) === 7)
        .withColumn("med", expr("element_at(sort_array(win), 4)"))
        .withColumn("mad", expr(
          "element_at(sort_array(transform(win, v -> abs(v - med))), 4)"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("y"),
          col("med"), col("mad"),
          (abs(col("y") - col("med")).cast("double") >
            lit(3.0) * 1.4826 * col("mad")).as("is_outlier"))
        .orderBy(col("d"))
    }),

    "q434_partial_correlation" -> ((s, dir) => {
      // partial correlation of daily purchases and views CONTROLLING for
      // clicks — r_xy.z = (r_xy - r_xz·r_yz)/√((1-r_xz²)(1-r_yz²)), the
      // confounder-adjusted dependence next to q167's raw correlation
      // matrix. Three pairwise moments in ONE aggregate over the
      // calendar-bounded daily frame.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("double").as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("double").as("y"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("double").as("z"))
      def corr2(a: Column, b: Column) =
        (avg(a * b) - avg(a) * avg(b)) /
          sqrt((avg(a * a) - avg(a) * avg(a)) *
            (avg(b * b) - avg(b) * avg(b)))
      val m = daily.agg(count(lit(1)).as("n_days"),
        corr2(col("x"), col("y")).as("rxy"),
        corr2(col("x"), col("z")).as("rxz"),
        corr2(col("y"), col("z")).as("ryz"))
      m.select(col("n_days"), round(col("rxy"), 6).as("r_xy"),
        round(col("rxz"), 6).as("r_xz"), round(col("ryz"), 6).as("r_yz"),
        round((col("rxy") - col("rxz") * col("ryz")) /
          sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("ryz") * col("ryz"))), 6).as("r_xy_given_z"))
    }),

    "q435_confusion_gallery" -> ((s, dir) => {
      // full confusion-matrix scorecard of the q138 classifier at the
      // mean-score cut (3 GD epochs keep every p below 0.5, so the fixed
      // 0.5 cut is degenerate — the mean split is the standard
      // data-driven operating point): accuracy, precision, recall, F1,
      // balanced accuracy, and Matthews correlation — the
      // threshold-fixed companion to q313's threshold sweep, with MCC as
      // the imbalance-robust headline. One aggregate over the scored
      // frame.
      val (feat, cols, wts) = classifierModel(s, dir)
      val z = cols.zip(wts).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val probs = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val thr = probs.agg(avg(col("p")).as("thr"))
      val scored = probs.crossJoin(broadcast(thr))
        .select(col("y"), (col("p") >= col("thr")).as("pred"))
      val cm = scored.agg(
        sum(when(col("pred") && col("y") === 1.0, 1L).otherwise(0L))
          .cast("double").as("tp"),
        sum(when(col("pred") && col("y") === 0.0, 1L).otherwise(0L))
          .cast("double").as("fp"),
        sum(when(!col("pred") && col("y") === 0.0, 1L).otherwise(0L))
          .cast("double").as("tn"),
        sum(when(!col("pred") && col("y") === 1.0, 1L).otherwise(0L))
          .cast("double").as("fn"))
      val prec = col("tp") / (col("tp") + col("fp"))
      val rec = col("tp") / (col("tp") + col("fn"))
      cm.select(
        (col("tp") + col("fp") + col("tn") + col("fn")).cast("long")
          .as("n"),
        col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        col("tn").cast("long").as("tn"), col("fn").cast("long").as("fn"),
        round((col("tp") + col("tn")) /
          (col("tp") + col("fp") + col("tn") + col("fn")), 6)
          .as("accuracy"),
        round(prec, 6).as("precision"), round(rec, 6).as("recall"),
        round(lit(2.0) * prec * rec / (prec + rec), 6).as("f1"),
        round((rec + col("tn") / (col("tn") + col("fp"))) / 2.0, 6)
          .as("balanced_acc"),
        round((col("tp") * col("tn") - col("fp") * col("fn")) /
          sqrt((col("tp") + col("fp")) * (col("tp") + col("fn")) *
            (col("tn") + col("fp")) * (col("tn") + col("fn"))), 6)
          .as("mcc"))
    }),

    "q436_simpsons_paradox" -> ((s, dir) => {
      // Simpson's-paradox detector: OLS slope of quantity on discount
      // computed overall vs pooled WITHIN part brands (Σ within-group
      // Sxy / Σ within-group Sxx) — sign disagreement means aggregation
      // reverses the relationship. Per-brand centered moments collapse
      // map-side; both slopes close in tiny aggregates.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_discount").cast("double").as("x"),
          col("l_quantity").cast("double").as("y"))
      val overall = li.agg(count(lit(1)).as("n"),
        ((avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) /
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))))
          .as("b_all"))
      val byG = li.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("double").as("ng"),
          (sum(col("x") * col("y")) - count(lit(1)) * avg(col("x")) *
            avg(col("y"))).as("sxy"),
          (sum(col("x") * col("x")) - count(lit(1)) * avg(col("x")) *
            avg(col("x"))).as("sxx"))
      val within = byG.agg(count(lit(1)).as("n_groups"),
        (sum(col("sxy")) / sum(col("sxx"))).as("b_within"))
      overall.crossJoin(broadcast(within))
        .select(col("n").as("n_rows"), col("n_groups"),
          round(col("b_all"), 6).as("slope_overall"),
          round(col("b_within"), 6).as("slope_within"),
          (signum(col("b_all")) =!= signum(col("b_within")))
            .as("simpson_reversal"))
    }),

    "q437_kupiec_pof" -> ((s, dir) => {
      // Kupiec proportion-of-failures backtest of the in-sample normal
      // 95% VaR on daily revenue log-changes — the validity check behind
      // q351's VaR numbers: are violations binomially consistent with
      // 5%? The return series is calendar-bounded; the LR closes in two
      // tiny aggregates (x=0 / x=n guarded so ln never sees 0).
      val daily = dailyOrderRevenue(s, dir)
      val w = Window.orderBy(col("d"))
      val r = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(log(col("rev") / col("prev")).as("r"))
      val st = r.agg(count(lit(1)).cast("double").as("n"),
        avg(col("r")).as("mu"),
        sqrt(avg(col("r") * col("r")) - avg(col("r")) * avg(col("r")))
          .as("sd"))
      val v = st.select(col("n"),
        (col("mu") - lit(1.645) * col("sd")).as("var95"))
      val x = r.crossJoin(broadcast(v))
        .agg(first(col("n")).as("n"), first(col("var95")).as("var95"),
          sum(when(col("r") < col("var95"), 1L).otherwise(0L))
            .cast("double").as("x"))
      val lnTerm = (c: Column, p: Column) =>
        when(c > 0, c * log(p)).otherwise(lit(0.0))
      x.select(col("n").cast("long").as("n_days"),
          round(col("var95"), 6).as("var95"),
          col("x").cast("long").as("violations"),
          round(lit(0.05) * col("n"), 2).as("expected"),
          round(lit(-2.0) * ((col("n") - col("x")) * math.log(0.95) +
            col("x") * math.log(0.05)) +
            lit(2.0) * (lnTerm(col("n") - col("x"),
              lit(1.0) - col("x") / col("n")) +
              lnTerm(col("x"), col("x") / col("n"))), 6).as("lr_pof"))
        .withColumn("reject_95", col("lr_pof") > 3.841)
    }),

    "q438_ar_aging" -> ((s, dir) => {
      // accounts-receivable aging report: open-order value bucketed by
      // age at corpus end (0-30 / 31-60 / 61-90 / 90+ days) with counts
      // and value shares — the working-capital ops read. One broadcast
      // max-date join + one bucket rollup; exact integer cents.
      val mx = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val aged = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O")
        .crossJoin(broadcast(mx))
        .select(datediff(col("mx"), col("o_orderdate")).as("age"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .withColumn("bucket", when(col("age") <= 30, "0-30")
          .when(col("age") <= 60, "31-60")
          .when(col("age") <= 90, "61-90").otherwise("90+"))
      val byB = aged.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("c"))
      val tot = byB.agg(sum(col("c")).as("ct"))
      byB.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_orders"),
          round(col("c").cast("double") / 100.0, 2).as("value"),
          round(col("c").cast("double") / col("ct"), 6).as("share"))
        .orderBy(col("bucket"))
    }),

    "q439_mantel_haenszel" -> ((s, dir) => {
      // Mantel-Haenszel pooled odds ratio across nation strata (exposure
      // = balance > 5000, outcome = >= 3 lifetime orders) vs the crude
      // pooled OR — the stratified-confounding companion to q230's DiD
      // and q360's IPW. Per-stratum 2x2 cells collapse map-side; the MH
      // algebra runs on the bounded nation table.
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 5000.0).as("expo"),
          (coalesce(col("cnt"), lit(0L)) >= 3).as("outc"))
      val strat = base.groupBy(col("nk"))
        .agg(sum(when(col("expo") && col("outc"), 1L).otherwise(0L))
          .cast("double").as("a"),
          sum(when(col("expo") && !col("outc"), 1L).otherwise(0L))
            .cast("double").as("b"),
          sum(when(!col("expo") && col("outc"), 1L).otherwise(0L))
            .cast("double").as("c"),
          sum(when(!col("expo") && !col("outc"), 1L).otherwise(0L))
            .cast("double").as("d"),
          count(lit(1)).cast("double").as("n"))
      strat.agg(count(lit(1)).as("n_strata"),
          (sum(col("a") * col("d") / col("n")) /
            sum(col("b") * col("c") / col("n"))).as("or_mh"),
          ((sum(col("a")) * sum(col("d"))) /
            (sum(col("b")) * sum(col("c")))).as("or_crude"))
        .select(col("n_strata"), round(col("or_mh"), 6).as("or_mh"),
          round(col("or_crude"), 6).as("or_crude"))
    }),

    "q440_burrows_delta" -> ((s, dir) => {
      // Burrows' Delta authorship distance between sources: z-scores of
      // the top-20 function-word frequencies across the 20 sources, then
      // mean |z_a - z_b| per source pair — the stylometric fingerprint.
      // Only the token rollup is data-sized; the z/delta algebra runs on
      // the bounded 20x20 term-source grid. Closest 10 pairs reported.
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(TF.normTokens(col("text")))
          .as("term"))
      val top20 = terms.groupBy(col("term"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(20)
        .select(col("term"))
      val stot = terms.groupBy(col("source"))
        .agg(count(lit(1)).cast("double").as("nt"))
      val cnt = terms.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
      val f = stot.crossJoin(broadcast(top20))
        .join(cnt, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("nt"))
            .as("f"))
      val tz = f.groupBy(col("term"))
        .agg(avg(col("f")).as("mu"),
          sqrt(avg(col("f") * col("f")) - avg(col("f")) * avg(col("f")))
            .as("sd"))
      val z = f.join(broadcast(tz), Seq("term"))
        .select(col("source"), col("term"),
          ((col("f") - col("mu")) /
            when(col("sd") === 0.0, lit(1.0)).otherwise(col("sd")))
            .as("z"))
      z.as("a").join(z.as("b"),
          col("a.term") === col("b.term") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(round(avg(abs(col("a.z") - col("b.z"))), 6).as("delta"))
        .orderBy(col("delta"), col("source_a"), col("source_b"))
        .limit(10)
    }),

    "q441_driver_decomposition" -> ((s, dir) => {
      // LMDI (log-mean Divisia) driver decomposition of the 1995→1996
      // revenue change into customers × orders/customer × items/order ×
      // revenue/item — contributions sum EXACTLY to the total change
      // (the metric-tree "why did revenue move" report). Two aggregates,
      // then bounded one-row algebra unioned into factor rows.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_custkey"), col("l_orderkey"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
      val agg = li.groupBy(col("yr"))
        .agg(countDistinct(col("o_custkey")).cast("double").as("c"),
          countDistinct(col("l_orderkey")).cast("double").as("o"),
          count(lit(1)).cast("double").as("i"),
          (sum(col("cents")).cast("double") / 100.0).as("r"))
      val w = agg.agg(
        max(when(col("yr") === 1995, col("c"))).as("c0"),
        max(when(col("yr") === 1996, col("c"))).as("c1"),
        max(when(col("yr") === 1995, col("o"))).as("o0"),
        max(when(col("yr") === 1996, col("o"))).as("o1"),
        max(when(col("yr") === 1995, col("i"))).as("i0"),
        max(when(col("yr") === 1996, col("i"))).as("i1"),
        max(when(col("yr") === 1995, col("r"))).as("r0"),
        max(when(col("yr") === 1996, col("r"))).as("r1"))
        .withColumn("lmean",
          (col("r1") - col("r0")) / log(col("r1") / col("r0")))
      def row(name: String, v0: Column, v1: Column) =
        w.select(lit(name).as("factor"), round(v0, 4).as("value_1995"),
          round(v1, 4).as("value_1996"),
          round(col("lmean") * log(v1 / v0), 2).as("contribution"))
      row("customers", col("c0"), col("c1"))
        .union(row("orders_per_customer",
          col("o0") / col("c0"), col("o1") / col("c1")))
        .union(row("items_per_order",
          col("i0") / col("o0"), col("i1") / col("o1")))
        .union(row("revenue_per_item",
          col("r0") / col("i0"), col("r1") / col("i1")))
        .orderBy(col("factor"))
    }),

    "q442_wilson_ranking" -> ((s, dir) => {
      // "how not to sort by average" — brands ranked by the Wilson lower
      // bound of their return rate instead of the raw proportion (q395
      // compares the intervals; this APPLIES one to ranking, where small
      // brands with lucky rates stop outranking established ones).
      // Per-brand (n, x) collapse map-side; top 10 by the bound.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .cast("double").as("x"))
      val p = col("x") / col("n")
      val z2 = lit(1.96 * 1.96)
      val lb = (p + z2 / (col("n") * 2) - lit(1.96) *
        sqrt(p * (lit(1.0) - p) / col("n") +
          z2 / (col("n") * 4 * col("n")))) / (lit(1.0) + z2 / col("n"))
      li.select(col("p_brand"), col("n").cast("long").as("n_items"),
          col("x").cast("long").as("n_returned"),
          round(p, 6).as("raw_rate"), round(lb, 6).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("p_brand"))
        .limit(10)
    }),

    "q443_event_study" -> ((s, dir) => {
      // event-study CAR: abnormal purchase-revenue log-returns (constant
      // -mean model) in the ±5-day window around the corpus's peak
      // error day — the did-the-incident-move-revenue read. Daily
      // rollups are the only data-sized passes; the window runs on the
      // calendar-bounded return series.
      val ev = events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "purchase",
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("revc"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("nerr"))
        .filter(col("revc") > 0)
      val eday = daily.orderBy(col("nerr").desc, col("d")).limit(1)
        .select(col("d").as("e"))
      val w = Window.orderBy(col("d"))
      val r = daily
        .withColumn("prev", lag(col("revc"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("d"),
          log(col("revc").cast("double") / col("prev")).as("r"))
      val mu = r.agg(avg(col("r")).as("mu"))
      val car = r.crossJoin(broadcast(eday)).crossJoin(broadcast(mu))
        .withColumn("rel_day", datediff(col("d"), col("e")).cast("long"))
        .filter(col("rel_day").between(-5, 5))
        .withColumn("ar", col("r") - col("mu"))
      val wRel = Window.orderBy(col("rel_day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      car.select(col("rel_day"), round(col("ar"), 6).as("ar"),
          round(sum(col("ar")).over(wRel), 6).as("car"))
        .orderBy(col("rel_day"))
    }),

    "q444_bcg_matrix" -> ((s, dir) => {
      // BCG growth-share matrix for part brands: 1995→1996 revenue
      // growth × relative market share (vs the largest OTHER brand),
      // quadrant = star / cash_cow / question_mark / dog — the portfolio
      // screen. Brand-year rollups collapse map-side; the max/second-max
      // denominators come from one bounded aggregate.
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(when(year(col("o_orderdate")) === 1995,
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("rev0"),
          sum(when(year(col("o_orderdate")) === 1996,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("rev1"))
        .filter(col("rev0") > 0 && col("rev1") > 0)
      val ranked = li.withColumn("rk",
        row_number().over(Window.orderBy(col("rev1").desc,
          col("p_brand"))))
      val withQ = ranked.crossJoin(broadcast(
          ranked.agg(max(when(col("rk") === 1, col("rev1"))).as("m1"),
            max(when(col("rk") === 2, col("rev1"))).as("m2"))))
        .withColumn("denom",
          when(col("rk") === 1, col("m2")).otherwise(col("m1")))
        .withColumn("growth",
          col("rev1").cast("double") / col("rev0") - 1.0)
        .withColumn("rel_share",
          col("rev1").cast("double") / col("denom"))
        .withColumn("quadrant",
          when(col("growth") > 0 && col("rel_share") > 1.0, "star")
            .when(col("growth") <= 0 && col("rel_share") > 1.0,
              "cash_cow")
            .when(col("growth") > 0, "question_mark")
            .otherwise("dog"))
      withQ.filter(col("rk") <= 10)
        .select(col("p_brand"),
          round(col("rev1").cast("double") / 100.0, 2).as("revenue_1996"),
          round(col("growth"), 6).as("growth"),
          round(col("rel_share"), 6).as("rel_share"), col("quadrant"))
        .orderBy(col("rel_share").desc, col("p_brand"))
    }),

    "q445_greedy_knapsack" -> ((s, dir) => {
      // prefix-greedy knapsack: parts ranked by value/weight ratio
      // (retail cents per size unit), taken while cumulative weight fits
      // a 20%-of-total budget — the budget-constrained selection shape
      // (q139's max-cover picks sets; this packs a capacity). Unique
      // ranks from the two-phase global rank, then ONE grouped prefix
      // sum — no global-order task at any scale.
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("pk"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          col("p_size").cast("long").as("wt"))
        .withColumn("negRatio",
          -(col("cents").cast("double") / col("wt")))
      val tot = parts.agg(sum(col("wt")).as("tw"))
      val ranked = graft.ops.PrefixSum.globalRank(
        parts, Seq(col("negRatio"), col("pk")), "rk")
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        ranked.withColumn("__g", lit(1)), "__g", "rk", col("wt"),
        "cum_wt")
      cum.crossJoin(broadcast(tot))
        .withColumn("budget", expr("(tw * 2) div 10"))
        .filter(col("cum_wt") <= col("budget"))
        .agg(first(col("budget")).as("budget"),
          first(col("tw")).as("total_weight_all"),
          count(lit(1)).as("n_selected"), sum(col("wt")).as("sel_weight"),
          sum(col("cents")).as("sel_cents"))
        .select(col("n_selected"), col("budget"),
          col("sel_weight").as("selected_weight"),
          round(col("sel_cents").cast("double") / 100.0, 2)
            .as("selected_value"),
          round(col("sel_weight").cast("double") / col("budget"), 6)
            .as("utilization"))
    }),

    "q446_nearest_facility" -> ((s, dir) => {
      // nearest-facility assignment: every customer's LCG point mapped
      // to the closest of five fixed warehouse sites (argmin via the
      // broadcast-join + struct-min trick — ties to the smaller site id),
      // then per-site demand stats — the logistics territory rollup.
      // One broadcast join, one aggregate; no per-site shuffle.
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"),
          pmod(col("c_custkey") * 48271L + 99991L, lit(1000000L)).as("x"),
          pmod(col("c_custkey") * 16807L + 12347L, lit(1000000L)).as("y"))
      val fac = s.createDataFrame(Seq(
          (1L, 100000L, 100000L), (2L, 500000L, 500000L),
          (3L, 900000L, 100000L), (4L, 100000L, 900000L),
          (5L, 900000L, 900000L)))
        .toDF("fid", "fx", "fy")
      val assigned = cust.crossJoin(broadcast(fac))
        .select(col("ck"),
          struct(((col("x") - col("fx")) * (col("x") - col("fx")) +
            (col("y") - col("fy")) * (col("y") - col("fy"))).as("d2"),
            col("fid")).as("cand"))
        .groupBy(col("ck")).agg(min(col("cand")).as("best"))
        .select(col("ck"), col("best.fid").as("fid"),
          col("best.d2").as("d2"))
      val tot = assigned.agg(count(lit(1)).as("nc"))
      assigned.groupBy(col("fid"))
        .agg(count(lit(1)).as("n_customers"),
          avg(sqrt(col("d2").cast("double"))).as("avg_dist"))
        .crossJoin(broadcast(tot))
        .select(col("fid").as("facility"), col("n_customers"),
          round(col("avg_dist"), 4).as("avg_dist"),
          round(col("n_customers").cast("double") / col("nc"), 6)
            .as("share"))
        .orderBy(col("facility"))
    }),

    "q447_evalue" -> ((s, dir) => {
      // VanderWeele E-value for the q439 Mantel-Haenszel OR: the
      // minimum confounder strength (on the RR scale) that could explain
      // the association away — the modern sensitivity-analysis one-liner
      // on top of the stratified 2x2 machinery (OR < 1 inverted first).
      val oc = customerOrderCounts(s, dir)
      val base = t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 5000.0).as("expo"),
          (coalesce(col("cnt"), lit(0L)) >= 3).as("outc"))
      val strat = base.groupBy(col("nk"))
        .agg(sum(when(col("expo") && col("outc"), 1L).otherwise(0L))
          .cast("double").as("a"),
          sum(when(col("expo") && !col("outc"), 1L).otherwise(0L))
            .cast("double").as("b"),
          sum(when(!col("expo") && col("outc"), 1L).otherwise(0L))
            .cast("double").as("c"),
          sum(when(!col("expo") && !col("outc"), 1L).otherwise(0L))
            .cast("double").as("d"),
          count(lit(1)).cast("double").as("n"))
      val orMh = strat.agg(count(lit(1)).as("n_strata"),
        (sum(col("a") * col("d") / col("n")) /
          sum(col("b") * col("c") / col("n"))).as("or_mh"))
      val orStar = when(col("or_mh") < 1.0, lit(1.0) / col("or_mh"))
        .otherwise(col("or_mh"))
      // or_mh = 0 (no exposed-outcome cell anywhere) makes the E-value
      // undefined — NULL on both engines, and the lazy CASE keeps ANSI
      // division-by-zero out of the degenerate branch
      orMh.select(col("n_strata"), round(col("or_mh"), 6).as("or_mh"),
        when(col("or_mh") > 0,
          round(orStar + sqrt(orStar * (orStar - 1.0)), 6)).as("evalue"))
    }),

    "q448_mmr_rerank" -> ((s, dir) => {
      // MMR diversity re-rank: top-10 cosine candidates for the corpus's
      // first vector, greedily re-ranked 5 deep with lambda 0.7 rel −
      // 0.3 max-sim-to-selected — the retrieval de-duplication step
      // between ANN (q27/q28) and serving. Candidate generation is the
      // exact scorer's shape; the greedy fold runs on the bounded
      // 10-row frame (4 tiny joins).
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qv = e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val cands = e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("vec_id"), col("embedding"),
          VF.cosine(col("embedding"), col("qemb")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(10)
        .materialize
      var selected = cands.orderBy((lit(0.7) * col("rel")).desc,
          col("vec_id")).limit(1)
        .select(col("vec_id"), col("embedding"), col("rel"),
          lit(0.0).as("maxsim"), (lit(0.7) * col("rel")).as("mmr"),
          lit(1L).as("rank"))
      for (r <- 2 to 5) {
        val selEmb = selected.select(col("vec_id").as("sid"),
          col("embedding").as("semb"))
        val remaining = cands.join(
          selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        val scored = remaining.crossJoin(broadcast(selEmb))
          .groupBy(col("vec_id"))
          .agg(first(col("rel")).as("rel"),
            first(col("embedding")).as("embedding"),
            max(VF.cosine(col("embedding"), col("semb"))).as("maxsim"))
          .withColumn("mmr",
            lit(0.7) * col("rel") - lit(0.3) * col("maxsim"))
        val pick = scored.orderBy(col("mmr").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("embedding"), col("rel"),
            col("maxsim"), col("mmr"), lit(r.toLong).as("rank"))
        selected = selected.union(pick)
      }
      val out = selected.select(col("rank"), col("vec_id"),
          round(col("rel"), 6).as("rel_to_query"),
          round(col("maxsim"), 6).as("max_sim_selected"),
          round(col("mmr"), 6).as("mmr_score"))
        .orderBy(col("rank"))
      out
    }),

    "q449_lateral_topk" -> ((s, dir) => {
      // correlated LATERAL subquery (top-2 orders per nation) — the
      // modern SQL form of per-group top-k; identical text runs on both
      // engines (q130/q171's shared-SQL pattern). Catalyst decorrelates
      // the LATERAL + LIMIT into a ranked join — see PLANS_r3.
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(lateralTopkSql)
    }),

    "q450_nearest_event_join" -> ((s, dir) => {
      // nearest-event join: each error matched to its closest purchase
      // in the same user's timeline — the NEAREST companion to q40/q57's
      // backward/forward as-of joins, built from one IGNORE NULLS
      // last/first pass over the per-user ordered union (q96's
      // machinery), ties to the backward side. Per-user windows shuffle
      // once on user_id at any scale.
      val ev = events(s, dir)
        .filter(col("event_type").isin("error", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val pCol = when(col("event_type") === "purchase", col("t"))
      val matched = ev
        .withColumn("prevP", last(pCol, ignoreNulls = true).over(wPrev))
        .withColumn("nextP", first(pCol, ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "error")
        .select(
          when(col("prevP").isNotNull &&
            (col("nextP").isNull ||
              col("t") - col("prevP") <= col("nextP") - col("t")),
            col("t") - col("prevP"))
            .otherwise(col("nextP") - col("t")).as("gap_us"),
          when(col("prevP").isNotNull &&
            (col("nextP").isNull ||
              col("t") - col("prevP") <= col("nextP") - col("t")),
            lit("backward")).otherwise(lit("forward")).as("side"))
        .filter(col("gap_us").isNotNull)
      matched.agg(count(lit(1)).as("n_matched"),
          sum(when(col("side") === "backward", 1L).otherwise(0L))
            .as("n_backward"),
          sum(when(col("side") === "forward", 1L).otherwise(0L))
            .as("n_forward"),
          round(avg(col("gap_us").cast("double") / 1e6), 4)
            .as("avg_gap_s"),
          round(min(col("gap_us")).cast("double") / 1e6, 4)
            .as("min_gap_s"),
          round(max(col("gap_us")).cast("double") / 1e6, 4)
            .as("max_gap_s"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q376_cooks_distance" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS y
        |  FROM orders GROUP BY 1),
        |pts AS (SELECT day,
        |    CAST(date_diff('day', DATE '1992-01-01', day) AS DOUBLE)
        |      AS tt, y
        |  FROM daily),
        |m1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(tt) AS st,
        |    sum(tt * tt) AS stt, sum(y) AS sy, sum(y * y) AS syy,
        |    sum(tt * y) AS sty
        |  FROM pts),
        |m2 AS (SELECT n, st, stt, sy, syy, sty,
        |    (sty - st * sy / n) / (stt - st * st / n) AS beta
        |  FROM m1),
        |m3 AS (SELECT n, beta, (sy - beta * st) / n AS alpha,
        |    st / n AS tbar, stt - st * st / n AS sxx,
        |    (syy - sy * sy / n - (sty - st * sy / n) * (sty - st * sy / n)
        |      / (stt - st * st / n)) / (n - 2) AS s2
        |  FROM m2),
        |dd AS (SELECT pts.day,
        |    (y - m3.alpha - m3.beta * tt) AS e,
        |    1.0 / m3.n + (tt - m3.tbar) * (tt - m3.tbar) / m3.sxx AS h,
        |    m3.s2 AS s2
        |  FROM pts CROSS JOIN m3)
        |SELECT CAST(day AS VARCHAR) AS day, round(e, 2) AS residual,
        |  round(h, 6) AS leverage,
        |  round(e * e / (2.0 * s2) * h / ((1.0 - h) * (1.0 - h)), 6)
        |    AS cooks_d
        |FROM dd ORDER BY cooks_d DESC, day LIMIT 5""".stripMargin,

    "q377_rouge1" ->
      """WITH d AS (SELECT doc_id, text FROM documents UNION ALL
        |  SELECT doc_id + 100000, substr(text, 21) FROM documents),
        |tk AS (SELECT fam, side, term FROM (
        |    SELECT doc_id % 100000 AS fam,
        |      CASE WHEN doc_id < 100000 THEN 'ref' ELSE 'cand' END
        |        AS side,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
        |        AS term
        |    FROM d) WHERE term <> ''),
        |cnt AS (SELECT fam, side, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2, 3),
        |lens AS (SELECT fam, side, CAST(count(*) AS BIGINT) AS len
        |  FROM tk GROUP BY 1, 2),
        |ov AS (SELECT r.fam, CAST(sum(least(r.c, cn.c)) AS BIGINT)
        |    AS ov
        |  FROM cnt r JOIN cnt cn ON r.fam = cn.fam AND r.term = cn.term
        |  WHERE r.side = 'ref' AND cn.side = 'cand' GROUP BY 1),
        |per AS (SELECT lr.fam,
        |    CAST(coalesce(ov.ov, 0) AS DOUBLE) / lr.len AS r,
        |    CAST(coalesce(ov.ov, 0) AS DOUBLE) / lc.len AS p
        |  FROM lens lr JOIN lens lc ON lr.fam = lc.fam
        |    AND lr.side = 'ref' AND lc.side = 'cand'
        |  LEFT JOIN ov ON ov.fam = lr.fam),
        |ff AS (SELECT fam, r, p,
        |    CASE WHEN r + p > 0 THEN 2.0 * r * p / (r + p)
        |      ELSE 0.0 END AS f1
        |  FROM per)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(r), 4) AS avg_recall,
        |  round(avg(p), 4) AS avg_precision,
        |  round(avg(f1), 4) AS avg_f1
        |FROM ff""".stripMargin,

    "q378_bleu2" ->
      """WITH d AS (SELECT doc_id, text FROM documents UNION ALL
        |  SELECT doc_id + 100000, substr(text, 21) FROM documents),
        |tk AS (SELECT doc_id % 100000 AS fam,
        |    CASE WHEN doc_id < 100000 THEN 'ref' ELSE 'cand' END
        |      AS side,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> x <> '')) AS term,
        |    generate_subscripts(list_filter(string_split_regex(
        |      lower(text), '[^a-z0-9]+'), x -> x <> ''), 1) AS i
        |  FROM d),
        |c1 AS (SELECT fam, side, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2, 3),
        |m1 AS (SELECT CAST(sum(least(r.c, cn.c)) AS BIGINT) AS m1
        |  FROM c1 r JOIN c1 cn ON r.fam = cn.fam AND r.term = cn.term
        |  WHERE r.side = 'ref' AND cn.side = 'cand'),
        |bg AS (SELECT a.fam, a.side, a.term || ' ' || b.term AS term
        |  FROM tk a JOIN tk b ON a.fam = b.fam AND a.side = b.side
        |    AND b.i = a.i + 1),
        |c2 AS (SELECT fam, side, term, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |m2 AS (SELECT CAST(sum(least(r.c, cn.c)) AS BIGINT) AS m2
        |  FROM c2 r JOIN c2 cn ON r.fam = cn.fam AND r.term = cn.term
        |  WHERE r.side = 'ref' AND cn.side = 'cand'),
        |tt AS (SELECT
        |    CAST(sum(CASE WHEN side = 'cand' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tr,
        |    CAST(count(DISTINCT CASE WHEN side = 'cand' THEN fam END)
        |      AS BIGINT) AS nf
        |  FROM tk),
        |t2 AS (SELECT CAST(count(*) AS BIGINT) AS t2 FROM bg
        |  WHERE side = 'cand'),
        |fin AS (SELECT tt.nf AS n_pairs,
        |    CAST(m1.m1 AS DOUBLE) / tt.t1 AS p1,
        |    CAST(m2.m2 AS DOUBLE) / t2.t2 AS p2,
        |    least(1.0, exp(1.0 - CAST(tt.tr AS DOUBLE) / tt.t1)) AS bp
        |  FROM m1 CROSS JOIN m2 CROSS JOIN tt CROSS JOIN t2)
        |SELECT n_pairs, round(p1, 4) AS p1, round(p2, 4) AS p2,
        |  round(bp, 4) AS bp,
        |  round(bp * exp(0.5 * ln(p1) + 0.5 * ln(p2)), 4) AS bleu2
        |FROM fin""".stripMargin,

    "q379_fd_discovery" -> {
      val attrs = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      val parts = attrs.map { a =>
        val others = attrs.filterNot(_ == a)
        val ds = others.map(b => s"count(DISTINCT $b) AS d_$b")
          .mkString(", ")
        val sums = others.map(b =>
          s"CAST(sum(CASE WHEN d_$b > 1 THEN 1 ELSE 0 END) AS BIGINT)" +
            s" AS v_$b").mkString(", ")
        s"g_$a AS (SELECT $a, $ds FROM orders GROUP BY 1),\n" +
          s"s_$a AS (SELECT $sums FROM g_$a)"
      }.mkString(",\n")
      val rows = attrs.flatMap { a =>
        attrs.filterNot(_ == a).map(b =>
          s"SELECT '$a' AS lhs, '$b' AS rhs, " +
            s"v_$b AS n_violating_groups FROM s_$a")
      }.mkString("\nUNION ALL\n")
      s"WITH $parts,\nu AS ($rows)\n" +
        "SELECT lhs, rhs, n_violating_groups, " +
        "n_violating_groups = 0 AS holds FROM u ORDER BY lhs, rhs"
    },

    "q380_ind_discovery" -> {
      val cands = Seq(
        ("o_custkey<=c_custkey", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("l_orderkey<=o_orderkey", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("c_nationkey<=n_nationkey", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("s_nationkey<=n_nationkey", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        ("n_regionkey<=r_regionkey", "nation", "n_regionkey",
          "region", "r_regionkey"),
        ("c_custkey<=o_custkey", "customer", "c_custkey",
          "orders", "o_custkey"))
      val rows = cands.map { case (name, lt, lc, rt, rc) =>
        s"""SELECT '$name' AS candidate,
           |  CAST((SELECT count(DISTINCT $lc) FROM $lt) AS BIGINT)
           |    AS n_distinct_lhs,
           |  CAST((SELECT count(*) FROM
           |      (SELECT DISTINCT CAST($lc AS BIGINT) AS v FROM $lt) ll
           |    WHERE NOT EXISTS (SELECT 1 FROM $rt
           |      WHERE CAST($rc AS BIGINT) = ll.v)) AS BIGINT)
           |    AS n_missing""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH u AS ($rows)\n" +
        "SELECT candidate, n_distinct_lhs, n_missing, " +
        "n_missing = 0 AS holds FROM u ORDER BY candidate"
    },

    "q381_tree_rollup" ->
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |pows AS (SELECT CAST(unnest([1, 10, 100, 1000, 10000, 100000,
        |    1000000]) AS BIGINT) AS p),
        |anc AS (SELECT ck // p AS node, v,
        |    CASE WHEN p = 1 THEN 0 ELSE 1 END AS is_desc
        |  FROM base CROSS JOIN pows WHERE ck // p > 0),
        |roll AS (SELECT node, CAST(sum(v) AS BIGINT) AS subtree_cents,
        |    CAST(sum(is_desc) AS BIGINT) AS n_desc
        |  FROM anc GROUP BY 1 HAVING sum(is_desc) > 0)
        |SELECT node, n_desc,
        |  round(CAST(subtree_cents AS DOUBLE) / 100.0, 2)
        |    AS subtree_dollars
        |FROM roll ORDER BY subtree_cents DESC, node LIMIT 10""".stripMargin,

    "q382_late_events" ->
      """WITH ev AS (SELECT event_id AS id, event_type AS et,
        |    epoch_us(ts) AS tsu FROM events),
        |wm AS (SELECT id, et, tsu,
        |    max(tsu) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS run
        |  FROM ev),
        |mk AS (SELECT et,
        |    CASE WHEN run IS NULL THEN 0
        |      WHEN tsu < run - 3600000000 THEN 1 ELSE 0 END AS late
        |  FROM wm)
        |SELECT et, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(late) AS BIGINT) AS n_late,
        |  round(CAST(sum(late) AS DOUBLE) / count(*), 4) AS late_share
        |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin,

    "q383_weighted_median" ->
      """WITH base AS (SELECT l_returnflag AS fl,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * 17179869184 + l_orderkey * 8 + l_linenumber AS ok
        |  FROM lineitem),
        |cum AS (SELECT fl, cents,
        |    CAST(sum(w) OVER (PARTITION BY fl ORDER BY ok) AS BIGINT)
        |      AS cw
        |  FROM base),
        |tot AS (SELECT fl, CAST(sum(w) AS BIGINT) AS tw
        |  FROM base GROUP BY 1),
        |med AS (SELECT cum.fl, min(tot.tw) AS tw,
        |    CAST(min(cents) AS BIGINT) AS med_cents
        |  FROM cum JOIN tot ON cum.fl = tot.fl
        |  WHERE cum.cw * 2 >= tot.tw GROUP BY 1)
        |SELECT fl AS returnflag, tw AS total_weight,
        |  round(CAST(med_cents AS DOUBLE) / 100.0, 2)
        |    AS weighted_median_price
        |FROM med ORDER BY returnflag""".stripMargin,

    "q384_overdispersion" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS et FROM events),
        |cnts AS (SELECT u, et, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |grid AS (SELECT u, et
        |  FROM (SELECT DISTINCT u FROM ev)
        |  CROSS JOIN (SELECT DISTINCT et FROM ev)),
        |filled AS (SELECT grid.u, grid.et, coalesce(cnts.c, 0) AS c
        |  FROM grid LEFT JOIN cnts ON grid.u = cnts.u
        |    AND grid.et = cnts.et),
        |st AS (SELECT et, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(c) AS BIGINT) AS s1,
        |    CAST(sum(c * c) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
        |  FROM filled GROUP BY 1),
        |mo AS (SELECT et, n_users,
        |    CAST(s1 AS DOUBLE) / n_users AS m,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_users)
        |      / (n_users - 1) AS v,
        |    CAST(z AS DOUBLE) / n_users AS z_obs
        |  FROM st)
        |SELECT et, n_users, round(m, 4) AS mean,
        |  round(v, 4) AS variance, round(v / m, 4) AS dispersion,
        |  round(z_obs, 4) AS zero_share_obs,
        |  round(exp(-m), 6) AS zero_share_poisson,
        |  CASE WHEN v > m THEN round(m * m / (v - m), 4) END AS nb_size
        |FROM mo ORDER BY et""".stripMargin,

    "q385_gumbel_maxima" ->
      """WITH wk AS (SELECT
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS wk,
        |    CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS mx
        |  FROM orders GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS nw,
        |    CAST(sum(mx) AS BIGINT) AS s1,
        |    CAST(sum(mx * mx) AS BIGINT) AS s2
        |  FROM wk),
        |mo AS (SELECT nw, CAST(s1 AS DOUBLE) / nw / 100.0 AS m,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nw)
        |      / (nw - 1)) / 100.0 AS sd
        |  FROM st),
        |gb AS (SELECT nw, sd * sqrt(6.0) / pi() AS beta, m FROM mo),
        |gm AS (SELECT nw, m - 0.5772156649015329 * beta AS mu, beta
        |  FROM gb)
        |SELECT nw AS n_weeks, round(mu, 2) AS gumbel_mu,
        |  round(beta, 2) AS gumbel_beta,
        |  round(mu - beta * ln(-ln(0.99)), 2) AS return_level_p99
        |FROM gm""".stripMargin,

    "q386_pot_gpd" ->
      """WITH o AS (SELECT
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS ok FROM orders),
        |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v, ok)
        |    AS BIGINT) AS rk FROM o),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |thr AS (SELECT rk.v AS u, nn.n FROM rk CROSS JOIN nn
        |  WHERE rk.rk = (nn.n * 95 + 99) // 100),
        |exc AS (SELECT CAST(o.v - thr.u AS DOUBLE) / 100.0 AS e,
        |    thr.u, thr.n
        |  FROM o CROSS JOIN thr WHERE o.v > thr.u),
        |st AS (SELECT min(u) AS u, min(n) AS n,
        |    CAST(count(*) AS BIGINT) AS nu, avg(e) AS me,
        |    sum(e * e) AS s2
        |  FROM exc),
        |vv AS (SELECT u, n, nu, me,
        |    (s2 - nu * me * me) / (nu - 1) AS ve FROM st),
        |gp AS (SELECT u, n, nu, me,
        |    0.5 * (1.0 - me * me / ve) AS xi,
        |    0.5 * me * (me * me / ve + 1) AS beta
        |  FROM vv)
        |SELECT round(CAST(u AS DOUBLE) / 100.0, 2) AS threshold_p95,
        |  nu AS n_excesses, round(xi, 4) AS gpd_xi,
        |  round(beta, 2) AS gpd_beta,
        |  round(CAST(u AS DOUBLE) / 100.0 + beta / xi *
        |    (pow(CAST(n AS DOUBLE) / nu * 0.001, -xi) - 1), 2)
        |    AS q999_est
        |FROM gp""".stripMargin,

    "q387_robust_location" ->
      """WITH o AS (SELECT
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS ok FROM orders),
        |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v, ok)
        |    AS BIGINT) AS rk FROM o),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    (CAST(count(*) AS BIGINT) * 5) // 100 AS k FROM o),
        |cuts AS (SELECT min(nn.n) AS n, min(nn.k) AS k,
        |    CAST(min(rk.v) AS BIGINT) AS lo,
        |    CAST(max(rk.v) AS BIGINT) AS hi
        |  FROM rk CROSS JOIN nn
        |  WHERE rk.rk = nn.k + 1 OR rk.rk = nn.n - nn.k),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(rk.v) AS BIGINT) AS sraw,
        |    CAST(sum(CASE WHEN rk.rk > cuts.k
        |      AND rk.rk <= cuts.n - cuts.k THEN rk.v ELSE 0 END)
        |      AS BIGINT) AS strim,
        |    CAST(sum(CASE WHEN rk.rk > cuts.k
        |      AND rk.rk <= cuts.n - cuts.k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ntrim,
        |    CAST(sum(greatest(least(rk.v, cuts.hi), cuts.lo))
        |      AS BIGINT) AS swin
        |  FROM rk CROSS JOIN cuts)
        |SELECT n_orders,
        |  round(CAST(sraw AS DOUBLE) / n_orders / 100.0, 2)
        |    AS mean_raw,
        |  round(CAST(strim AS DOUBLE) / ntrim / 100.0, 2)
        |    AS mean_trimmed5,
        |  round(CAST(swin AS DOUBLE) / n_orders / 100.0, 2)
        |    AS mean_winsorized5
        |FROM agg""".stripMargin,

    "q388_octile_shape" ->
      """WITH o AS (SELECT
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS ok FROM orders),
        |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v, ok)
        |    AS BIGINT) AS rk FROM o),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |oct AS (SELECT min(nn.n) AS n,
        |    max(CASE WHEN rk.rk = (nn.n * 1 + 7) // 8 THEN rk.v END)
        |      AS e1,
        |    max(CASE WHEN rk.rk = (nn.n * 2 + 7) // 8 THEN rk.v END)
        |      AS e2,
        |    max(CASE WHEN rk.rk = (nn.n * 3 + 7) // 8 THEN rk.v END)
        |      AS e3,
        |    max(CASE WHEN rk.rk = (nn.n * 4 + 7) // 8 THEN rk.v END)
        |      AS e4,
        |    max(CASE WHEN rk.rk = (nn.n * 5 + 7) // 8 THEN rk.v END)
        |      AS e5,
        |    max(CASE WHEN rk.rk = (nn.n * 6 + 7) // 8 THEN rk.v END)
        |      AS e6,
        |    max(CASE WHEN rk.rk = (nn.n * 7 + 7) // 8 THEN rk.v END)
        |      AS e7
        |  FROM rk CROSS JOIN nn)
        |SELECT n AS n_orders,
        |  round(CAST(e6 + e2 - 2 * e4 AS DOUBLE) / (e6 - e2), 4)
        |    AS bowley_skew,
        |  round(CAST((e7 - e5) + (e3 - e1) AS DOUBLE) / (e6 - e2), 4)
        |    AS moors_kurtosis
        |FROM oct""".stripMargin,

    "q389_imputation_audit" -> {
      val kh = graft.ops.Sampling.keyHashSql("c_custkey")
      s"""WITH base AS (SELECT c_custkey AS ck, c_nationkey AS nk,
         |    c_mktsegment AS sg,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
         |    (($kh) % 10) < 2 AS miss
         |  FROM customer),
         |obs AS (SELECT * FROM base WHERE NOT miss),
         |cell AS (SELECT nk, sg,
         |    CAST(sum(v) AS DOUBLE) / count(*) AS cm
         |  FROM obs GROUP BY 1, 2),
         |gmean AS (SELECT CAST(sum(v) AS DOUBLE) / count(*) AS gm
         |  FROM obs),
         |ms AS (SELECT base.v, coalesce(cell.cm, gmean.gm) AS grp,
         |    gmean.gm
         |  FROM base LEFT JOIN cell ON base.nk = cell.nk
         |    AND base.sg = cell.sg
         |  CROSS JOIN gmean WHERE base.miss),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_missing,
         |    avg(abs(grp - v)) AS mae_g, avg(grp - v) AS bias_g,
         |    avg(abs(gm - v)) AS mae_gl
         |  FROM ms)
         |SELECT n_missing, round(mae_g / 100.0, 2) AS mae_group,
         |  round(bias_g / 100.0, 2) AS bias_group,
         |  round(mae_gl / 100.0, 2) AS mae_global
         |FROM agg""".stripMargin
    },

    "q390_k_anonymity" ->
      """WITH base AS (SELECT c_custkey AS ck, c_nationkey AS nk,
        |    c_mktsegment AS sg,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |rk AS (SELECT nk, sg, CAST(row_number() OVER (ORDER BY v, ck)
        |    AS BIGINT) AS rk FROM base),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |dc AS (SELECT nk, sg, ((rk - 1) * 10) // nn.n AS dec
        |  FROM rk CROSS JOIN nn),
        |grp AS (SELECT nk, dec, CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT sg) AS BIGINT) AS l
        |  FROM dc GROUP BY 1, 2),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(sz) AS BIGINT) AS n_rows,
        |    CAST(min(sz) AS BIGINT) AS k_min,
        |    CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |      AS rows_lt5,
        |    CAST(min(l) AS BIGINT) AS l_min,
        |    CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS groups_l1
        |  FROM grp)
        |SELECT n_groups, n_rows, k_min,
        |  round(CAST(rows_lt5 AS DOUBLE) / n_rows, 4)
        |    AS share_rows_below_k5,
        |  l_min,
        |  round(CAST(groups_l1 AS DOUBLE) / n_groups, 4)
        |    AS share_groups_l1
        |FROM agg""".stripMargin,

    "q391_holt_winters" -> {
      val step =
        """SELECT h.t + 1,
          |      0.3 * (g.y - CASE (h.t + 1) % 4 WHEN 0 THEN h.s0
          |        WHEN 1 THEN h.s1 WHEN 2 THEN h.s2 ELSE h.s3 END)
          |        + 0.7 * (h.l + h.b),
          |      0.1 * ((0.3 * (g.y - CASE (h.t + 1) % 4 WHEN 0 THEN h.s0
          |        WHEN 1 THEN h.s1 WHEN 2 THEN h.s2 ELSE h.s3 END)
          |        + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b,
          |      CASE WHEN (h.t + 1) % 4 = 0 THEN
          |        0.2 * (g.y - (0.3 * (g.y - h.s0) + 0.7 * (h.l + h.b)))
          |          + 0.8 * h.s0 ELSE h.s0 END,
          |      CASE WHEN (h.t + 1) % 4 = 1 THEN
          |        0.2 * (g.y - (0.3 * (g.y - h.s1) + 0.7 * (h.l + h.b)))
          |          + 0.8 * h.s1 ELSE h.s1 END,
          |      CASE WHEN (h.t + 1) % 4 = 2 THEN
          |        0.2 * (g.y - (0.3 * (g.y - h.s2) + 0.7 * (h.l + h.b)))
          |          + 0.8 * h.s2 ELSE h.s2 END,
          |      CASE WHEN (h.t + 1) % 4 = 3 THEN
          |        0.2 * (g.y - (0.3 * (g.y - h.s3) + 0.7 * (h.l + h.b)))
          |          + 0.8 * h.s3 ELSE h.s3 END,
          |      h.sae + abs(g.y - (h.l + h.b
          |        + CASE (h.t + 1) % 4 WHEN 0 THEN h.s0 WHEN 1 THEN h.s1
          |          WHEN 2 THEN h.s2 ELSE h.s3 END))""".stripMargin
      s"""WITH q AS (SELECT (year(CAST(o_orderdate AS DATE)) - 1992) * 4
         |      + (month(CAST(o_orderdate AS DATE)) - 1) // 3 AS t,
         |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS DOUBLE)
         |      / 1000.0 AS y
         |  FROM orders GROUP BY 1),
         |g AS (SELECT CAST(r.range AS BIGINT) AS t,
         |    coalesce(q.y, 0.0) AS y
         |  FROM range(27) r LEFT JOIN q ON q.t = r.range),
         |base AS (SELECT
         |    (a0.y + a1.y + a2.y + a3.y) / 4 AS l0,
         |    ((a4.y + a5.y + a6.y + a7.y) / 4
         |      - (a0.y + a1.y + a2.y + a3.y) / 4) / 4 AS b0,
         |    a0.y - (a0.y + a1.y + a2.y + a3.y) / 4 AS s00,
         |    a1.y - (a0.y + a1.y + a2.y + a3.y) / 4 AS s01,
         |    a2.y - (a0.y + a1.y + a2.y + a3.y) / 4 AS s02,
         |    a3.y - (a0.y + a1.y + a2.y + a3.y) / 4 AS s03
         |  FROM g a0, g a1, g a2, g a3, g a4, g a5, g a6, g a7
         |  WHERE a0.t = 0 AND a1.t = 1 AND a2.t = 2 AND a3.t = 3
         |    AND a4.t = 4 AND a5.t = 5 AND a6.t = 6 AND a7.t = 7)
         |SELECT CAST(27 AS BIGINT) AS n_quarters, round(l, 2) AS level_kusd,
         |  round(b, 2) AS trend_kusd,
         |  round(l + b + s3, 2) AS forecast_kusd,
         |  round(sae / 23.0, 2) AS mae_kusd
         |FROM (
         |  WITH RECURSIVE h(t, l, b, s0, s1, s2, s3, sae) AS (
         |    SELECT CAST(3 AS BIGINT), l0, b0, s00, s01, s02, s03,
         |      CAST(0.0 AS DOUBLE) FROM base
         |    UNION ALL
         |    $step
         |    FROM h JOIN g ON g.t = h.t + 1 WHERE h.t < 26)
         |  SELECT l, b, s3, sae FROM h WHERE t = 26)""".stripMargin
    },

    "q392_cliffs_delta" ->
      """WITH base AS (SELECT
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        |cnt AS (SELECT yr, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |grid AS (SELECT y.yr, d.v
        |  FROM (SELECT DISTINCT v FROM base) d
        |  CROSS JOIN (SELECT DISTINCT yr FROM base) y),
        |filled AS (SELECT grid.yr, grid.v, coalesce(cnt.c, 0) AS c
        |  FROM grid LEFT JOIN cnt ON grid.yr = cnt.yr
        |    AND grid.v = cnt.v),
        |cum AS (SELECT yr, v, c,
        |    CAST(sum(c) OVER (PARTITION BY yr ORDER BY v) AS BIGINT)
        |      AS cum
        |  FROM filled),
        |c96 AS (SELECT v, c AS c96, cum AS cum96 FROM cum
        |  WHERE yr = 1996),
        |c95 AS (SELECT v, c AS c95 FROM cnt WHERE yr = 1995),
        |tots AS (SELECT yr, CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |agg AS (SELECT
        |    CAST(sum(c95.c95 * (c96.cum96 - c96.c96)) AS BIGINT) AS gt,
        |    CAST(sum(c95.c95 * (t96.n - c96.cum96)) AS BIGINT) AS lt,
        |    CAST(sum(c95.c95 * c96.c96) AS BIGINT) AS eq
        |  FROM c95 JOIN c96 ON c95.v = c96.v
        |  CROSS JOIN (SELECT n FROM tots WHERE yr = 1996) t96)
        |SELECT t95.n AS n95, t96.n AS n96,
        |  round(CAST(agg.gt - agg.lt AS DOUBLE)
        |    / (CAST(t95.n AS DOUBLE) * t96.n), 6) AS cliffs_delta,
        |  round((CAST(agg.gt AS DOUBLE) + 0.5 * agg.eq)
        |    / (CAST(t95.n AS DOUBLE) * t96.n), 4) AS p_superiority
        |FROM agg
        |CROSS JOIN (SELECT n FROM tots WHERE yr = 1995) t95
        |CROSS JOIN (SELECT n FROM tots WHERE yr = 1996) t96""".stripMargin,

    "q393_g_test" -> {
      val ser = (0 to 7).map(j =>
        if (j == 0) "1.0"
        else s"pow(g / 2, $j.0) / ${(1 to j).map(_.toDouble).product}")
        .mkString(" + ")
      s"""WITH cells AS (SELECT c.c_mktsegment AS sg,
         |    o.o_orderpriority AS pr, CAST(count(*) AS BIGINT) AS o
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |  GROUP BY 1, 2),
         |rw AS (SELECT sg, CAST(sum(o) AS BIGINT) AS r
         |  FROM cells GROUP BY 1),
         |cl AS (SELECT pr, CAST(sum(o) AS BIGINT) AS c
         |  FROM cells GROUP BY 1),
         |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |gg AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    min(nn.n) AS n,
         |    2.0 * sum(cells.o * ln(CAST(cells.o AS DOUBLE) * nn.n
         |      / (CAST(rw.r AS DOUBLE) * cl.c))) AS g
         |  FROM cells JOIN rw USING (sg) JOIN cl USING (pr)
         |  CROSS JOIN nn)
         |SELECT n AS n_orders, n_cells, round(g, 4) AS g_stat,
         |  round(exp(-g / 2) * ($ser), 6) AS p_approx
         |FROM gg""".stripMargin
    },

    "q394_weibull_fit" ->
      """WITH durs AS (SELECT o_custkey,
        |    CAST(date_diff('day', min(CAST(o_orderdate AS DATE)),
        |      max(CAST(o_orderdate AS DATE))) AS BIGINT) AS dur
        |  FROM orders GROUP BY 1 HAVING dur > 0),
        |rk AS (SELECT dur, CAST(row_number()
        |    OVER (ORDER BY dur, o_custkey) AS BIGINT) AS i FROM durs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM durs),
        |pts AS (SELECT ln(CAST(dur AS DOUBLE)) AS x,
        |    ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
        |      / (CAST(nn.n AS DOUBLE) + 0.4))) AS y
        |  FROM rk CROSS JOIN nn),
        |mo AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(x * x) AS sxx, sum(y) AS sy, sum(x * y) AS sxy
        |  FROM pts),
        |ft AS (SELECT n,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS k, sx, sy
        |  FROM mo),
        |fb AS (SELECT n, k, (sy - k * sx) / n AS b FROM ft)
        |SELECT CAST(n AS BIGINT) AS n_cust,
        |  round(k, 4) AS weibull_shape,
        |  round(exp(-b / k), 2) AS weibull_scale_days,
        |  round(exp(-b / k) * pow(ln(2.0), 1.0 / k), 2) AS median_days
        |FROM fb""".stripMargin,

    "q395_proportion_cis" ->
      """WITH zc AS (SELECT CAST(1.959963984540054 AS DOUBLE) AS z),
        |base AS (SELECT c_mktsegment AS segment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM customer GROUP BY 1),
        |pp AS (SELECT segment, n, x, CAST(x AS DOUBLE) / n AS p, z
        |  FROM base CROSS JOIN zc)
        |SELECT segment, n, x, round(p, 4) AS p_hat,
        |  round(p - z * sqrt(p * (1.0 - p) / n), 4) AS wald_lo,
        |  round(p + z * sqrt(p * (1.0 - p) / n), 4) AS wald_hi,
        |  round((p + z * z / (2 * n) - z * sqrt(p * (1.0 - p) / n
        |    + z * z / (4.0 * n * n))) / (1.0 + z * z / n), 4)
        |    AS wilson_lo,
        |  round((p + z * z / (2 * n) + z * sqrt(p * (1.0 - p) / n
        |    + z * z / (4.0 * n * n))) / (1.0 + z * z / n), 4)
        |    AS wilson_hi,
        |  round((x + z * z / 2) / (n + z * z)
        |    - z * sqrt(((x + z * z / 2) / (n + z * z))
        |      * (1.0 - (x + z * z / 2) / (n + z * z)) / (n + z * z)), 4)
        |    AS ac_lo,
        |  round((x + z * z / 2) / (n + z * z)
        |    + z * sqrt(((x + z * z / 2) / (n + z * z))
        |      * (1.0 - (x + z * z / 2) / (n + z * z)) / (n + z * z)), 4)
        |    AS ac_hi
        |FROM pp ORDER BY segment""".stripMargin,

    "q396_james_stein" ->
      """WITH g AS (SELECT p.p_brand AS brand,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s1,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s2
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |mo AS (SELECT brand, ng, CAST(s1 AS DOUBLE) / ng AS xb,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / ng)
        |      / (ng - 1) / ng AS vm
        |  FROM g),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum(xb) / count(*) AS gm, avg(vm) AS vbar FROM mo),
        |dv AS (SELECT min(st.k) AS k, min(st.gm) AS gm,
        |    greatest(0.0, 1.0 - (min(st.k) - 3) * min(st.vbar)
        |      / sum((xb - st.gm) * (xb - st.gm))) AS c
        |  FROM mo CROSS JOIN st)
        |SELECT brand, ng, round(xb / 100.0, 2) AS mean_raw,
        |  round((dv.gm + dv.c * (xb - dv.gm)) / 100.0, 2)
        |    AS mean_shrunk,
        |  round(dv.c, 6) AS shrink_factor
        |FROM mo CROSS JOIN dv ORDER BY brand""".stripMargin,

    "q397_variogram" ->
      """WITH sup AS (SELECT s_suppkey AS sk,
        |    (s_suppkey * 48271 + 99991) % 1000000 AS x,
        |    (s_suppkey * 16807 + 12347) % 1000000 AS y,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS z
        |  FROM supplier),
        |offs AS (SELECT dx.range AS dx, dy.range AS dy
        |  FROM range(-3, 4) dx CROSS JOIN range(-3, 4) dy),
        |expd AS (SELECT sk, x, y, z, x // 40000 + dx AS cx,
        |    y // 40000 + dy AS cy
        |  FROM sup CROSS JOIN offs),
        |base AS (SELECT sk, x, y, z, x // 40000 AS cx, y // 40000 AS cy
        |  FROM sup),
        |pr AS (SELECT a.z AS za, b.z AS zb,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM base a JOIN expd b ON a.cx = b.cx AND a.cy = b.cy
        |    AND a.sk < b.sk),
        |bd AS (SELECT za, zb,
        |    CAST(CASE WHEN d2 <= 1600000000 THEN 1
        |      WHEN d2 <= 6400000000 THEN 2 ELSE 3 END AS BIGINT) AS band
        |  FROM pr WHERE d2 > 0 AND d2 <= 14400000000)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum((za - zb) * (za - zb)) AS DOUBLE)
        |    / (2.0 * count(*)) / 10000.0, 2) AS semivariance_usd2
        |FROM bd GROUP BY 1 ORDER BY 1""".stripMargin,

    "q398_srm_check" -> {
      val kh = graft.ops.Sampling.keyHashSql("c_custkey")
      s"""WITH asg AS (SELECT ($kh) % 2 AS arm, CAST(count(*) AS BIGINT)
         |    AS c
         |  FROM customer GROUP BY 1),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT)
         |      AS a
         |  FROM asg),
         |ch AS (SELECT n, a, n - a AS b,
         |    CAST((a - (n - a)) * (a - (n - a)) AS DOUBLE) / n AS chi2
         |  FROM st),
         |pp AS (SELECT n, a, b, chi2, sqrt(chi2) / sqrt(2.0) AS x,
         |    1.0 / (1.0 + 0.3275911 * (sqrt(chi2) / sqrt(2.0))) AS t
         |  FROM ch)
         |SELECT n AS n_cust, a AS arm0, b AS arm1,
         |  round(chi2, 4) AS chi2,
         |  round((0.254829592 * t - 0.284496736 * t * t
         |    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
         |    + 1.061405429 * t * t * t * t * t) * exp(-x * x), 6)
         |    AS p_value,
         |  chi2 > 3.841 AS srm_flag
         |FROM pp""".stripMargin
    },

    "q399_skyline" ->
      """WITH parts AS (SELECT p_partkey AS pk,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part),
        |grp AS (SELECT price, CAST(max(sz) AS BIGINT) AS gmax
        |  FROM parts GROUP BY 1),
        |excl AS (SELECT price, gmax,
        |    coalesce(max(gmax) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      AS emax
        |  FROM grp),
        |sky AS (SELECT p.pk, p.price, p.sz
        |  FROM parts p JOIN excl e ON p.price = e.price
        |  WHERE p.sz > e.emax AND p.sz = e.gmax),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_skyline FROM sky)
        |SELECT cnt.n_skyline, sky.pk AS partkey,
        |  round(CAST(sky.price AS DOUBLE) / 100.0, 2) AS price,
        |  sky.sz AS size
        |FROM sky CROSS JOIN cnt
        |ORDER BY sky.price, sky.pk LIMIT 10""".stripMargin,

    "q400_holm_stepdown" ->
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
        |hh AS (SELECT c_mktsegment, z, p, rk,
        |    0.05 / (6.0 - CAST(rk AS DOUBLE)) AS alpha_holm,
        |    CASE WHEN p <= 0.05 / (6.0 - CAST(rk AS DOUBLE)) THEN 1
        |      ELSE 0 END AS pass
        |  FROM ranked),
        |cum AS (SELECT c_mktsegment, z, p, rk, alpha_holm,
        |    min(pass) OVER (ORDER BY rk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS allpass
        |  FROM hh)
        |SELECT c_mktsegment, round(z, 4) AS z,
        |  round(p, 6) AS p_two_sided, rk AS p_rank,
        |  round(alpha_holm, 4) AS alpha_holm, allpass = 1 AS rejected
        |FROM cum ORDER BY c_mktsegment""".stripMargin,

    "q401_nelson_aalen" ->
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
        |    n_total - (cum_all - c_all) AS n_risk FROM cum CROSS JOIN tot),
        |ev AS (SELECT dur, n_risk, d_events FROM risk WHERE d_events > 0),
        |na AS (SELECT dur, n_risk, d_events,
        |    sum(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      OVER (ORDER BY dur) AS ch,
        |    sum(CAST(d_events AS DOUBLE) /
        |        (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
        |      OVER (ORDER BY dur) AS vs
        |  FROM ev)
        |SELECT dur AS duration_days, n_risk, d_events,
        |  round(ch, 6) AS cum_hazard, round(exp(-ch), 6) AS fh_survival,
        |  round(sqrt(vs), 6) AS se_hazard
        |FROM na ORDER BY duration_days""".stripMargin,

    "q402_adstock" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS views,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS buys
        |  FROM events GROUP BY 1),
        |lg AS (SELECT CAST(l AS INTEGER) AS l FROM range(8) t(l)),
        |contrib AS (SELECT d + l AS td,
        |    CAST(views AS DOUBLE) * pow(0.6, CAST(l AS DOUBLE)) AS wv
        |  FROM daily CROSS JOIN lg),
        |ad AS (SELECT td, sum(wv) AS adstock FROM contrib GROUP BY 1),
        |j AS (SELECT ad.adstock AS x, CAST(daily.buys AS DOUBLE) AS y
        |  FROM daily JOIN ad ON daily.d = ad.td),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_days, sum(x) AS sx,
        |    sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy,
        |    sum(y*y) AS syy FROM j)
        |SELECT n_days,
        |  round((n_days*sxy - sx*sy) / (n_days*sxx - sx*sx), 6) AS slope,
        |  round((sy - ((n_days*sxy - sx*sy)/(n_days*sxx - sx*sx)) * sx)
        |    / n_days, 6) AS intercept,
        |  round(pow(n_days*sxy - sx*sy, 2) /
        |    ((n_days*sxx - sx*sx) * (n_days*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    "q403_chrf" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, substr(text, 21) FROM documents),
        |grams AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(length(text) - 1),
        |        i -> substr(text, CAST(i + 1 AS INTEGER), 2))) AS g
        |    FROM docs WHERE length(text) >= 2)
        |  GROUP BY 1, 2),
        |ref AS (SELECT * FROM grams WHERE doc_id < 100000),
        |hyp AS (SELECT doc_id - 100000 AS doc_id, g, c AS ch
        |  FROM grams WHERE doc_id >= 100000),
        |ov AS (SELECT r.doc_id, CAST(sum(least(r.c, h.ch)) AS BIGINT) AS ov
        |  FROM ref r JOIN hyp h ON r.doc_id = h.doc_id AND r.g = h.g
        |  GROUP BY 1),
        |tr AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tr
        |  FROM ref GROUP BY 1),
        |th AS (SELECT doc_id, CAST(sum(ch) AS BIGINT) AS th
        |  FROM hyp GROUP BY 1),
        |pr AS (SELECT tr.doc_id,
        |    CAST(COALESCE(ov.ov, 0) AS DOUBLE) / th.th AS p,
        |    CAST(COALESCE(ov.ov, 0) AS DOUBLE) / tr.tr AS r
        |  FROM tr JOIN th USING (doc_id)
        |  LEFT JOIN ov ON ov.doc_id = tr.doc_id),
        |f AS (SELECT doc_id, CASE WHEN p + r > 0
        |    THEN 2.0 * p * r / (p + r) ELSE 0.0 END AS f FROM pr)
        |SELECT CAST(floor(f * 10) AS BIGINT) AS f_bin,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(f), 6) AS avg_chrf
        |FROM f GROUP BY 1 ORDER BY f_bin""".stripMargin,

    "q404_link_prediction" ->
      s"""WITH ev0 AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events),
         |ev AS (SELECT * FROM ev0 WHERE rn <= 25),
         |sq AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |ed AS (SELECT DISTINCT least(src, item) AS a,
         |    greatest(src, item) AS b
         |  FROM sq WHERE src IS NOT NULL AND src <> item),
         |nbrs AS (SELECT a AS node, b AS nbr FROM ed
         |  UNION ALL SELECT b, a FROM ed),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM nbrs GROUP BY 1),
         |cand AS (SELECT n1.node AS u, n2.node AS v,
         |    CAST(count(*) AS BIGINT) AS cn,
         |    sum(1.0 / ln(CAST(d.deg AS DOUBLE))) AS aa
         |  FROM nbrs n1
         |  JOIN nbrs n2 ON n1.nbr = n2.nbr AND n1.node < n2.node
         |  JOIN deg d ON d.node = n1.nbr
         |  GROUP BY 1, 2),
         |ne AS (SELECT c.* FROM cand c
         |  LEFT JOIN ed ON c.u = ed.a AND c.v = ed.b WHERE ed.a IS NULL)
         |SELECT ne.u AS node_a, ne.v AS node_b, ne.cn,
         |  round(CAST(ne.cn AS DOUBLE) /
         |    CAST(du.deg + dv.deg - ne.cn AS DOUBLE), 6) AS jaccard,
         |  round(ne.aa, 6) AS adamic_adar
         |FROM ne
         |JOIN deg du ON du.node = ne.u
         |JOIN deg dv ON dv.node = ne.v
         |ORDER BY round(ne.aa, 6) DESC, ne.cn DESC, node_a, node_b
         |LIMIT 20""".stripMargin,

    "q405_getis_ord" ->
      """WITH sup AS (SELECT
        |    CAST((s_suppkey * 48271 + 99991) % 1000000 AS BIGINT)
        |      // 125000 AS cx,
        |    CAST((s_suppkey * 16807 + 12347) % 1000000 AS BIGINT)
        |      // 125000 AS cy,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS z
        |  FROM supplier),
        |occ AS (SELECT cx, cy, sum(z) AS v FROM sup GROUP BY 1, 2),
        |uni AS (SELECT CAST(gx.g AS BIGINT) AS cx, CAST(gy.g AS BIGINT)
        |      AS cy, CAST(COALESCE(occ.v, 0) AS DOUBLE) AS x
        |  FROM range(8) gx(g) CROSS JOIN range(8) gy(g)
        |  LEFT JOIN occ ON occ.cx = gx.g AND occ.cy = gy.g),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar,
        |    sqrt(avg(x * x) - avg(x) * avg(x)) AS sd FROM uni),
        |offs AS (SELECT dx.g - 1 AS dx, dy.g - 1 AS dy
        |  FROM range(3) dx(g) CROSS JOIN range(3) dy(g)),
        |nbr AS (SELECT u.cx + o.dx AS cx, u.cy + o.dy AS cy, u.x AS nx
        |  FROM uni u CROSS JOIN offs o),
        |gi AS (SELECT u.cx, u.cy, sum(n.nx) AS s1,
        |    CAST(count(*) AS DOUBLE) AS wi
        |  FROM uni u JOIN nbr n ON u.cx = n.cx AND u.cy = n.cy
        |  GROUP BY 1, 2)
        |SELECT gi.cx, gi.cy, CAST(wi AS BIGINT) AS n_nbrs,
        |  round((s1 - wi * xbar) /
        |    (sd * sqrt((n * wi - wi * wi) / (n - 1))), 6) AS gi_star
        |FROM gi CROSS JOIN stats ORDER BY gi.cx, gi.cy""".stripMargin,

    "q406_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |    round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price,
        |    round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value
        |    FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'avg_disc', avg_disc FROM wide)
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q407_forecast_accuracy" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |lagged AS (SELECT y,
        |    lag(y, 1) OVER (ORDER BY d) AS f1,
        |    lag(y, 7) OVER (ORDER BY d) AS f7
        |  FROM daily),
        |scored AS (
        |  SELECT y, 'naive' AS model, f1 AS f FROM lagged
        |    WHERE f1 IS NOT NULL
        |  UNION ALL
        |  SELECT y, 'snaive', f7 FROM lagged WHERE f7 IS NOT NULL),
        |metrics AS (SELECT model, CAST(count(*) AS BIGINT) AS n,
        |    avg(abs(f - y)) AS mae,
        |    sqrt(avg((f - y) * (f - y))) AS rmse,
        |    avg(2.0 * abs(f - y) / (abs(f) + abs(y))) AS smape
        |  FROM scored GROUP BY 1),
        |scale AS (SELECT mae AS mae_naive FROM metrics
        |  WHERE model = 'naive')
        |SELECT model, n, round(mae, 6) AS mae, round(rmse, 6) AS rmse,
        |  round(smape, 6) AS smape,
        |  round(mae / mae_naive, 6) AS mase
        |FROM metrics CROSS JOIN scale ORDER BY model""".stripMargin,

    "q408_newey_west" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |dmin AS (SELECT min(d) AS d0 FROM daily),
        |td AS (SELECT CAST(date_diff('day', d0, d) AS DOUBLE) AS x, y
        |  FROM daily CROSS JOIN dmin),
        |sums AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar,
        |    avg(y) AS ybar, sum(x * x) AS sxx_raw, sum(x * y) AS sxy_raw
        |  FROM td),
        |fit AS (SELECT n, xbar, ybar,
        |    sxx_raw - n * xbar * xbar AS sxx,
        |    (sxy_raw - n * xbar * ybar) / (sxx_raw - n * xbar * xbar)
        |      AS slope
        |  FROM sums),
        |resid AS (SELECT n, x, sxx, slope, x - xbar AS xc,
        |    y - ybar - slope * (x - xbar) AS e,
        |    (x - xbar) * (y - ybar - slope * (x - xbar)) AS u
        |  FROM td CROSS JOIN fit),
        |lagged AS (SELECT *, lag(u, 1) OVER (ORDER BY x) AS u1,
        |    lag(u, 2) OVER (ORDER BY x) AS u2
        |  FROM resid),
        |g AS (SELECT n, sxx, slope, sum(e * e) AS sse,
        |    sum(u * u) AS g0, sum(u * COALESCE(u1, 0.0)) AS g1,
        |    sum(u * COALESCE(u2, 0.0)) AS g2
        |  FROM lagged GROUP BY 1, 2, 3),
        |se AS (SELECT CAST(n AS BIGINT) AS n_days, round(slope, 6)
        |      AS slope,
        |    round(sqrt(sse / (n - 2) / sxx), 6) AS se_ols,
        |    round(sqrt((g0 + 2.0 * (1.0 - 1.0 / 3.0) * g1
        |      + 2.0 * (1.0 - 2.0 / 3.0) * g2) / (sxx * sxx)), 6) AS se_nw
        |  FROM g)
        |SELECT n_days, slope, se_ols, se_nw,
        |  round(se_nw / se_ols, 6) AS nw_ratio
        |FROM se""".stripMargin,

    "q409_lorenz_deciles" ->
      """WITH base AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rk,
        |    (SELECT count(*) FROM base) AS n
        |  FROM base),
        |dec AS (SELECT ((rk - 1) * 10) // n AS dec, cents FROM ranked),
        |byd AS (SELECT dec, CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(cents) AS BIGINT) AS c
        |  FROM dec GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM byd)
        |SELECT CAST(dec AS BIGINT) AS decile, n_cust,
        |  round(CAST(c AS DOUBLE) / ct, 6) AS share,
        |  round(CAST(sum(c) OVER (ORDER BY dec) AS DOUBLE) / ct, 6)
        |    AS cum_share
        |FROM byd CROSS JOIN tot ORDER BY decile""".stripMargin,

    "q410_inequality_indices" ->
      """WITH base AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (SELECT cents,
        |    ((row_number() OVER (ORDER BY cents, o_custkey) - 1) * 10)
        |      // (SELECT count(*) FROM base) AS dec,
        |    CAST(cents AS DOUBLE) / 100.0 AS x
        |  FROM base),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_cust, avg(x) AS mu,
        |    avg(sqrt(x)) AS msq, CAST(sum(cents) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN dec = 9 THEN cents ELSE 0 END) AS BIGINT)
        |      AS top10,
        |    CAST(sum(CASE WHEN dec <= 3 THEN cents ELSE 0 END) AS BIGINT)
        |      AS bot40
        |  FROM ranked)
        |SELECT n_cust, round(1.0 - msq * msq / mu, 6) AS atkinson_05,
        |  round(CAST(top10 AS DOUBLE) / bot40, 6) AS palma_ratio,
        |  round(CAST(top10 AS DOUBLE) / ct, 6) AS top10_share,
        |  round(CAST(bot40 AS DOUBLE) / ct, 6) AS bottom40_share
        |FROM s""".stripMargin,

    "q411_crow_amsaa" ->
      """WITH t0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
        |fails AS (SELECT ts, event_id FROM events
        |  WHERE event_type = 'error'),
        |ranked AS (SELECT
        |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
        |      AS k,
        |    CAST(epoch_us(ts) - t0 AS DOUBLE) / 3.6e9 AS t_hours
        |  FROM fails CROSS JOIN t0),
        |lx AS (SELECT ln(t_hours) AS lx, ln(CAST(k AS DOUBLE)) AS ly
        |  FROM ranked WHERE t_hours > 0),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(lx) AS mx,
        |    avg(ly) AS my, sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        |  FROM lx),
        |fit AS (SELECT CAST(n AS BIGINT) AS n_failures,
        |    round((sxy - n * mx * my) / (sxx - n * mx * mx), 6) AS beta
        |  FROM s)
        |SELECT n_failures, beta,
        |  CASE WHEN beta < 1.0 THEN 'improving' ELSE 'degrading' END
        |    AS trend
        |FROM fit""".stripMargin,

    "q412_aalen_johansen" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |lastord AS (SELECT o_custkey, o_totalprice AS last_price FROM (
        |    SELECT o_custkey, o_totalprice, row_number() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |cust AS (SELECT
        |    CAST(date_diff('day', min(o.o_orderdate), max(o.o_orderdate))
        |      AS BIGINT) AS dur,
        |    date_diff('day', max(o.o_orderdate), min(mx.mx)) > 90
        |      AS event,
        |    min(l.last_price) >= 150000.0 AS big
        |  FROM orders o CROSS JOIN mx
        |  JOIN lastord l ON o.o_custkey = l.o_custkey
        |  GROUP BY o.o_custkey),
        |byd AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN event AND big THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN event AND NOT big THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM byd),
        |cum AS (SELECT *, CAST(sum(c_all) OVER (ORDER BY dur) AS BIGINT)
        |    AS cum_all FROM byd),
        |risk AS (SELECT dur, c_all, d1, d2,
        |    n_total - (cum_all - c_all) AS n_risk
        |  FROM cum CROSS JOIN tot WHERE d1 + d2 > 0),
        |lns AS (SELECT *, CASE WHEN n_risk > d1 + d2
        |    THEN ln(1.0 - CAST(d1 + d2 AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |    ELSE 0.0 END AS lnS
        |  FROM risk),
        |sp AS (SELECT *, exp(COALESCE(sum(lnS) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
        |    AS sPrev
        |  FROM lns),
        |cif AS (SELECT dur, n_risk, d1, d2,
        |    sum(sPrev * CAST(d1 AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      OVER (ORDER BY dur) AS cif1,
        |    sum(sPrev * CAST(d2 AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      OVER (ORDER BY dur) AS cif2
        |  FROM sp)
        |SELECT dur AS duration_days, n_risk, d1, d2,
        |  round(cif1, 6) AS cif_bigspender, round(cif2, 6) AS cif_other
        |FROM cif ORDER BY duration_days""".stripMargin,

    "q413_edit_distance" ->
      """WITH a AS (SELECT doc_id, substr(text, 1, 40) AS ta
        |  FROM documents),
        |b AS (SELECT doc_id, substr(substr(text, 21), 1, 40) AS tb
        |  FROM documents),
        |d AS (SELECT a.doc_id, levenshtein(ta, tb) AS d,
        |    greatest(length(ta), length(tb), 1) AS mx
        |  FROM a JOIN b ON a.doc_id = b.doc_id),
        |sim AS (SELECT doc_id, d,
        |    1.0 - CAST(d AS DOUBLE) / mx AS sim FROM d)
        |SELECT CAST(floor(sim * 10) AS BIGINT) AS sim_bin,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(sim), 6) AS avg_sim,
        |  round(avg(CAST(d AS DOUBLE)), 4) AS avg_dist
        |FROM sim GROUP BY 1 ORDER BY sim_bin""".stripMargin,

    "q414_clark_evans" ->
      """WITH sup AS (SELECT s_suppkey AS sk,
        |    CAST((s_suppkey * 48271 + 99991) % 1000000 AS BIGINT) AS x,
        |    CAST((s_suppkey * 16807 + 12347) % 1000000 AS BIGINT) AS y
        |  FROM supplier),
        |offs AS (SELECT dx.g - 3 AS dx, dy.g - 3 AS dy
        |  FROM range(7) dx(g) CROSS JOIN range(7) dy(g)),
        |expd AS (SELECT sk, x, y, x // 40000 + dx AS cx,
        |    y // 40000 + dy AS cy
        |  FROM sup CROSS JOIN offs),
        |base AS (SELECT sk, x, y, x // 40000 AS cx, y // 40000 AS cy
        |  FROM sup),
        |nn AS (SELECT a.sk,
        |    min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
        |      AS d2
        |  FROM base a JOIN expd b ON a.cx = b.cx AND a.cy = b.cy
        |    AND a.sk <> b.sk
        |  GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM sup),
        |agg AS (SELECT min(n_all) AS n_all,
        |    CAST(count(*) AS DOUBLE) AS n_nn,
        |    avg(sqrt(CAST(d2 AS DOUBLE))) AS obs
        |  FROM nn CROSS JOIN nt)
        |SELECT CAST(n_all AS BIGINT) AS n_points,
        |  CAST(n_nn AS BIGINT) AS n_with_nn,
        |  round(obs, 4) AS mean_nn_obs,
        |  round(0.5 / sqrt(n_all / 1e12), 4) AS mean_nn_exp,
        |  round(obs / (0.5 / sqrt(n_all / 1e12)), 6) AS r_ratio,
        |  round((obs - 0.5 / sqrt(n_all / 1e12)) /
        |    (0.26136 / sqrt(n_nn * n_all / 1e12)), 6) AS z
        |FROM agg""".stripMargin,

    "q415_bradley_terry" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cAggs = types.indices.map(i =>
        s"sum(CASE WHEN event_type = '${types(i)}' THEN 1 ELSE 0 END) AS c_$i")
        .mkString(",\n    ")
      val wAggs = (for {
        i <- 0 to 4; j <- 0 to 4 if i != j
      } yield s"CAST(sum(CASE WHEN c_$i > c_$j THEN 1 ELSE 0 END) AS BIGINT) AS w_${i}_$j")
        .mkString(",\n    ")
      val branches = types.indices.map { i =>
        val wins = (0 to 4).filter(_ != i).map(j => s"w_${i}_$j")
          .mkString(" + ")
        s"SELECT '${types(i)}' AS event_type, CAST($wins AS BIGINT) AS wins, round(p$i, 6) AS strength FROM bt10_"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
         |    $cAggs
         |  FROM events GROUP BY 1),
         |bt0_ AS (SELECT
         |    $wAggs,
         |    ${(0 to 4).map(i => s"0.2 AS p$i").mkString(", ")}
         |  FROM daily),
         |${(1 to 10).map(btStepSql).mkString(",\n")}
         |SELECT event_type, wins, strength FROM (
         |  $branches)
         |ORDER BY strength DESC, event_type""".stripMargin
    },

    "q416_mixture_em" ->
      s"""WITH xs AS (SELECT CAST(c_acctbal AS DOUBLE) AS x FROM customer),
         |em0_ AS (SELECT 0.5 AS pi1,
         |    avg(x) - 0.5 * stddev_pop(x) AS mu1, stddev_pop(x) AS s1,
         |    avg(x) + 0.5 * stddev_pop(x) AS mu2, stddev_pop(x) AS s2
         |  FROM xs),
         |${(1 to 4).map(emStepSql).mkString(",\n")},
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM xs)
         |SELECT n_rows, round(pi1, 6) AS pi1, round(mu1, 4) AS mu1,
         |  round(s1, 4) AS sigma1, round(mu2, 4) AS mu2,
         |  round(s2, 4) AS sigma2
         |FROM nr CROSS JOIN em4_""".stripMargin,

    "q417_rolling_beta" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |roll AS (SELECT d,
        |    count(*) OVER w AS nn,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy,
        |    sum(y * y) OVER w AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
        |fin AS (SELECT d,
        |    CAST(10 * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(10 * sxx - sx * sx AS DOUBLE) AS dx,
        |    CAST(10 * syy - sy * sy AS DOUBLE) AS dy
        |  FROM roll WHERE nn = 10)
        |SELECT strftime(d, '%Y-%m-%d') AS d,
        |  round(num / dx, 6) AS beta,
        |  round(num / sqrt(dx * dy), 6) AS corr
        |FROM fin ORDER BY d""".stripMargin,

    "q418_sax" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |stats AS (SELECT avg(y) AS mu,
        |    sqrt(avg(y * y) - avg(y) * avg(y)) AS sd FROM daily),
        |ranked AS (SELECT
        |    (row_number() OVER (ORDER BY d) - 1) // 5 AS segment,
        |    (y - mu) / sd AS z
        |  FROM daily CROSS JOIN stats),
        |seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_days,
        |    avg(z) AS paa
        |  FROM ranked GROUP BY 1)
        |SELECT CAST(segment AS BIGINT) AS segment, n_days,
        |  round(paa, 6) AS paa,
        |  CASE WHEN paa < -0.6745 THEN 'a'
        |       WHEN paa < 0.0 THEN 'b'
        |       WHEN paa < 0.6745 THEN 'c'
        |       ELSE 'd' END AS symbol
        |FROM seg ORDER BY segment""".stripMargin,

    "q419_cox_ph" ->
      s"""WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
         |lastord AS (SELECT o_custkey, o_totalprice AS last_price FROM (
         |    SELECT o_custkey, o_totalprice, row_number() OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders) WHERE rn = 1),
         |cust AS (SELECT
         |    CAST(date_diff('day', min(o.o_orderdate), max(o.o_orderdate))
         |      AS BIGINT) AS dur,
         |    date_diff('day', max(o.o_orderdate), min(mx.mx)) > 90
         |      AS event,
         |    min(l.last_price) >= 150000.0 AS big
         |  FROM orders o CROSS JOIN mx
         |  JOIN lastord l ON o.o_custkey = l.o_custkey
         |  GROUP BY o.o_custkey),
         |byd AS (SELECT dur,
         |    CAST(sum(CASE WHEN NOT big THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN big THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN event AND NOT big THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d0,
         |    CAST(sum(CASE WHEN event AND big THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d1
         |  FROM cust GROUP BY 1),
         |tot AS (SELECT CAST(sum(c0) AS BIGINT) AS t0,
         |    CAST(sum(c1) AS BIGINT) AS t1 FROM byd),
         |cum AS (SELECT *, CAST(sum(c0) OVER (ORDER BY dur) AS BIGINT)
         |      AS cum0,
         |    CAST(sum(c1) OVER (ORDER BY dur) AS BIGINT) AS cum1
         |  FROM byd),
         |evt AS (SELECT CAST(t0 - (cum0 - c0) AS DOUBLE) AS n0,
         |    CAST(t1 - (cum1 - c1) AS DOUBLE) AS n1,
         |    CAST(d0 AS DOUBLE) AS d0, CAST(d1 AS DOUBLE) AS d1
         |  FROM cum CROSS JOIN tot WHERE d0 + d1 > 0),
         |cox0_ AS (SELECT 0.0 AS b),
         |${(1 to 3).map(coxStepSql).mkString(",\n")},
         |fin AS (SELECT min(b) AS b,
         |    CAST(sum(d0 + d1) AS BIGINT) AS n_events,
         |    sum((d0 + d1) * n0 * n1 * exp(b) /
         |      ((n0 + n1 * exp(b)) * (n0 + n1 * exp(b)))) AS i_
         |  FROM evt CROSS JOIN cox3_)
         |SELECT n_events, round(b, 6) AS beta,
         |  round(exp(b), 6) AS hazard_ratio,
         |  round(1.0 / sqrt(i_), 6) AS se,
         |  round(b * sqrt(i_), 6) AS z
         |FROM fin""".stripMargin,

    "q420_keyness" ->
      s"""WITH terms AS (SELECT source = 'src0' AS inA,
         |    unnest($ntoksSql) AS term
         |  FROM documents),
         |cnt AS (SELECT term,
         |    CAST(sum(CASE WHEN inA THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN NOT inA THEN 1 ELSE 0 END) AS BIGINT)
         |      AS b
         |  FROM terms GROUP BY 1 HAVING a + b >= 10),
         |tot AS (SELECT
         |    CAST(sum(CASE WHEN inA THEN 1 ELSE 0 END) AS DOUBLE) AS na,
         |    CAST(sum(CASE WHEN NOT inA THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS nb
         |  FROM terms),
         |g AS (SELECT term, a, b,
         |    na * (a + b) / (na + nb) AS ea,
         |    nb * (a + b) / (na + nb) AS eb,
         |    CASE WHEN CAST(a AS DOUBLE) / na >
         |      (a + b) / (na + nb) THEN 'over' ELSE 'under' END
         |      AS direction
         |  FROM cnt CROSS JOIN tot),
         |g2 AS (SELECT term, a, b, direction,
         |    round(2.0 * (
         |      (CASE WHEN a > 0 THEN a * ln(a / ea) ELSE 0.0 END) +
         |      (CASE WHEN b > 0 THEN b * ln(b / eb) ELSE 0.0 END)), 6)
         |      AS g2
         |  FROM g)
         |SELECT term, a AS freq_focus, b AS freq_rest, g2, direction
         |FROM g2 ORDER BY g2 DESC, term LIMIT 20""".stripMargin,

    "q421_delong_auc" ->
      s"""WITH $lrCtes,
         |pts AS (SELECT p,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cpos,
         |    CAST(count(*) AS BIGINT) AS ctot
         |  FROM scored GROUP BY 1),
         |cum AS (SELECT *,
         |    CAST(sum(ctot) OVER (ORDER BY p) AS BIGINT) AS cum_t,
         |    CAST(sum(cpos) OVER (ORDER BY p) AS BIGINT) AS cum_p
         |  FROM pts),
         |tot AS (SELECT CAST(sum(cpos) AS DOUBLE) AS np,
         |    CAST(sum(ctot) - sum(cpos) AS DOUBLE) AS nn FROM pts),
         |v AS (SELECT CAST(cpos AS DOUBLE) AS wp,
         |    CAST(ctot - cpos AS DOUBLE) AS wn, np, nn,
         |    CAST(cum_t - ctot - (cum_p - cpos)
         |      + 0.5 * (ctot - cpos) AS DOUBLE) / nn AS v10,
         |    CAST(cum_p - cpos + 0.5 * cpos AS DOUBLE) / np AS v01
         |  FROM cum CROSS JOIN tot),
         |ag AS (SELECT min(np) AS np, min(nn) AS nn,
         |    sum(wp * v10) AS swv10, sum(wp * v10 * v10) AS swv10s,
         |    sum(wn * v01 * v01) AS swv01s FROM v),
         |a1 AS (SELECT CAST(np AS BIGINT) AS n_pos,
         |    CAST(nn AS BIGINT) AS n_neg, swv10 / np AS auc,
         |    np, nn, swv10s, swv01s FROM ag),
         |a2 AS (SELECT n_pos, n_neg, round(auc, 6) AS auc_r,
         |    round(sqrt((swv10s - np * auc * auc) / (np - 1) / np +
         |      (swv01s - nn * auc * auc) / (nn - 1) / nn), 6) AS se_r
         |  FROM a1)
         |SELECT n_pos, n_neg, auc_r AS auc, se_r AS se_delong,
         |  round(auc_r - 1.96 * se_r, 6) AS ci_lo,
         |  round(auc_r + 1.96 * se_r, 6) AS ci_hi
         |FROM a2""".stripMargin,

    "q422_ewma_chart" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1),
        |stats AS (SELECT avg(x) AS mu0,
        |    sqrt(avg(x * x) - avg(x) * avg(x)) AS sd FROM daily),
        |rn AS (SELECT d, x,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        |  FROM daily),
        |zsum AS (SELECT a.d, a.rn,
        |    sum(pow(0.8, a.rn - b.rn) * b.x) AS wsum
        |  FROM rn a JOIN rn b ON b.rn <= a.rn
        |  GROUP BY 1, 2),
        |z AS (SELECT strftime(d, '%Y-%m-%d') AS d,
        |    mu0 * pow(0.8, rn) + 0.2 * wsum AS z,
        |    sd * 3.0 * sqrt(0.2 / 1.8 * (1.0 - pow(0.64, rn))) AS band,
        |    mu0
        |  FROM zsum CROSS JOIN stats)
        |SELECT d, round(z, 4) AS ewma, round(mu0 + band, 4) AS ucl,
        |  round(mu0 - band, 4) AS lcl,
        |  (z > mu0 + band OR z < mu0 - band) AS out_of_control
        |FROM z ORDER BY d""".stripMargin,

    "q423_deming" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, avg(x) AS xb,
        |    avg(y) AS yb,
        |    avg(x * x) - avg(x) * avg(x) AS sxx,
        |    avg(y * y) - avg(y) * avg(y) AS syy,
        |    avg(x * y) - avg(x) * avg(y) AS sxy
        |  FROM daily),
        |dem AS (SELECT *,
        |    (syy - sxx + sqrt((syy - sxx) * (syy - sxx)
        |      + 4.0 * sxy * sxy)) / (2.0 * sxy) AS b
        |  FROM m)
        |SELECT n_days, round(b, 6) AS deming_slope,
        |  round(yb - b * xb, 6) AS deming_intercept,
        |  round(sxy / sxx, 6) AS ols_slope
        |FROM dem""".stripMargin,

    "q424_dyad_census" ->
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |sq AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM ev),
         |ed AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item),
         |und AS (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b FROM ed),
         |mut AS (SELECT CAST(count(*) AS BIGINT) AS mut FROM und u
         |  WHERE EXISTS (SELECT 1 FROM ed
         |      WHERE ed.src = u.a AND ed.dst = u.b)
         |    AND EXISTS (SELECT 1 FROM ed
         |      WHERE ed.src = u.b AND ed.dst = u.a)),
         |nn AS (SELECT CAST(count(DISTINCT node) AS BIGINT) AS n FROM (
         |  SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |cnts AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM ed) AS m_dir,
         |    (SELECT CAST(count(*) AS BIGINT) FROM und) AS u,
         |    mut.mut, nn.n
         |  FROM mut CROSS JOIN nn)
         |SELECT n AS n_nodes, m_dir AS n_directed_edges, mut AS mutual,
         |  u - mut AS asymmetric,
         |  (n * (n - 1)) // 2 - u AS null_dyads,
         |  round(2.0 * mut / m_dir, 6) AS reciprocity
         |FROM cnts""".stripMargin,

    "q425_dbscan_grid" ->
      """WITH RECURSIVE sup AS (SELECT s_suppkey AS sk,
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
        |core AS (SELECT pa AS sk FROM prs GROUP BY pa
        |  HAVING count(*) >= 3),
        |ce AS (SELECT p.pa, p.pb FROM prs p
        |    JOIN core c1 ON p.pa = c1.sk JOIN core c2 ON p.pb = c2.sk
        |    WHERE p.pa < p.pb
        |  UNION SELECT sk, sk FROM core),
        |edges AS (SELECT pa AS a, pb AS b FROM ce
        |  UNION SELECT pb, pa FROM ce),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(src, dst) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src, min(dst) AS component FROM reach
        |  GROUP BY src),
        |clus AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY 1),
        |border AS (SELECT DISTINCT p.pa FROM prs p
        |  LEFT JOIN core c1 ON p.pa = c1.sk
        |  JOIN core c2 ON p.pb = c2.sk
        |  WHERE c1.sk IS NULL),
        |cnts AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM sup) AS n_points,
        |    (SELECT CAST(count(*) AS BIGINT) FROM core) AS n_core,
        |    (SELECT CAST(count(*) AS BIGINT) FROM border) AS n_border,
        |    (SELECT CAST(count(*) AS BIGINT) FROM clus) AS n_clusters,
        |    (SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) FROM clus)
        |      AS max_cluster)
        |SELECT n_points, n_core, n_border,
        |  n_points - n_core - n_border AS n_noise, n_clusters,
        |  max_cluster
        |FROM cnts""".stripMargin,

    "q426_inventory_sim" -> {
      val ycols = (0 to 29).map(k => s"y$k").mkString(", ")
      val steps = (0 to 29).map { k =>
        s"""inv${k + 1}_ AS (SELECT $ycols,
           |    greatest((CASE WHEN inv < 200 THEN 500 ELSE inv END)
           |      - y$k, 0) AS inv,
           |    n_orders + (CASE WHEN inv < 200 THEN 1 ELSE 0 END)
           |      AS n_orders,
           |    lost + greatest(-((CASE WHEN inv < 200 THEN 500 ELSE inv
           |      END) - y$k), 0) AS lost
           |  FROM inv${k}_)""".stripMargin
      }.mkString(",\n")
      val tot = (0 to 29).map(k => s"y$k").mkString(" + ")
      s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
         |idx AS (SELECT date_diff('day', d0, CAST(ts AS DATE)) AS k
         |  FROM events CROSS JOIN d0 WHERE event_type = 'purchase'),
         |wide AS (SELECT ${(0 to 29).map(k =>
        s"CAST(sum(CASE WHEN k = $k THEN 1 ELSE 0 END) AS BIGINT) AS y$k")
        .mkString(", ")}
         |  FROM idx),
         |inv0_ AS (SELECT *, CAST(500 AS BIGINT) AS inv,
         |    CAST(0 AS BIGINT) AS n_orders, CAST(0 AS BIGINT) AS lost
         |  FROM wide),
         |$steps
         |SELECT CAST($tot AS BIGINT) AS total_demand,
         |  CAST(n_orders AS BIGINT) AS n_orders,
         |  CAST(lost AS BIGINT) AS lost_units,
         |  CAST(inv AS BIGINT) AS final_inventory,
         |  round(1.0 - CAST(lost AS DOUBLE) / ($tot), 6) AS service_level
         |FROM inv30_""".stripMargin
    },

    "q427_cronbach_alpha" ->
      """WITH feat AS (SELECT
        |    CAST(len(text) AS DOUBLE)/100.0 AS f1,
        |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS f2,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS f3
        |  FROM documents),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    avg(f1 * f1) - avg(f1) * avg(f1) AS v1,
        |    avg(f2 * f2) - avg(f2) * avg(f2) AS v2,
        |    avg(f3 * f3) - avg(f3) * avg(f3) AS v3,
        |    avg((f1 + f2 + f3) * (f1 + f2 + f3))
        |      - avg(f1 + f2 + f3) * avg(f1 + f2 + f3) AS vt
        |  FROM feat)
        |SELECT n_docs,
        |  round(1.5 * (1.0 - (v1 + v2 + v3) / vt), 6) AS alpha,
        |  round(v1, 6) AS var_len, round(v2, 6) AS var_space,
        |  round(v3, 6) AS var_digit, round(vt, 6) AS var_total
        |FROM v""".stripMargin,

    "q428_effect_sizes" ->
      """WITH base AS (SELECT
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      AS DOUBLE) / 100.0 AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |g AS (SELECT yr, CAST(count(*) AS DOUBLE) AS n, avg(v) AS m,
        |    (sum(v * v) - count(*) * avg(v) * avg(v)) / (count(*) - 1)
        |      AS s2
        |  FROM base GROUP BY 1),
        |a AS (SELECT n AS n1, m AS m1, s2 AS s21 FROM g WHERE yr = 1995),
        |b AS (SELECT n AS n2, m AS m2, s2 AS s22 FROM g WHERE yr = 1996),
        |j AS (SELECT *,
        |    (m1 - m2) / sqrt(((n1 - 1) * s21 + (n2 - 1) * s22)
        |      / (n1 + n2 - 2)) AS d
        |  FROM a CROSS JOIN b)
        |SELECT CAST(n1 AS BIGINT) AS n_1995, CAST(n2 AS BIGINT) AS n_1996,
        |  round(m1 - m2, 4) AS mean_diff, round(d, 6) AS cohens_d,
        |  round(d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 6) AS hedges_g,
        |  round((m1 - m2) / sqrt(s22), 6) AS glass_delta
        |FROM j""".stripMargin,

    "q429_tail_dependence" ->
      """WITH base AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS spend,
        |    CAST(count(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY spend, o_custkey) AS BIGINT)
        |      AS rs,
        |    CAST(row_number() OVER (ORDER BY n_ord, o_custkey) AS BIGINT)
        |      AS ro
        |  FROM base),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    (8 * CAST(count(*) AS BIGINT)) // 10 AS k FROM base),
        |ag AS (SELECT min(n) AS n, min(k) AS k,
        |    CAST(sum(CASE WHEN rs > k AND ro > k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ju,
        |    CAST(sum(CASE WHEN rs <= n - k AND ro <= n - k
        |      THEN 1 ELSE 0 END) AS BIGINT) AS jl
        |  FROM r CROSS JOIN nn)
        |SELECT n AS n_cust, n - k AS tail_size,
        |  round(CAST(ju AS DOUBLE) / (n - k), 6) AS lambda_upper,
        |  round(CAST(jl AS DOUBLE) / (n - k), 6) AS lambda_lower,
        |  round(CAST(n - k AS DOUBLE) / n, 6) AS independent_ref
        |FROM ag""".stripMargin,

    "q430_turning_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |lagged AS (SELECT y, lag(y, 1) OVER (ORDER BY d) AS yp,
        |    lead(y, 1) OVER (ORDER BY d) AS yn
        |  FROM daily),
        |tp AS (SELECT CASE WHEN (y - yp) * (yn - y) < 0 THEN 1 ELSE 0
        |    END AS isTp
        |  FROM lagged WHERE yp IS NOT NULL AND yn IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM daily),
        |ag AS (SELECT CAST(sum(isTp) AS BIGINT) AS t FROM tp)
        |SELECT CAST(n AS BIGINT) AS n_days, t AS turning_points,
        |  round(2.0 * (n - 2) / 3.0, 4) AS expected,
        |  round((t - 2.0 * (n - 2) / 3.0) /
        |    sqrt((16.0 * n - 29) / 90.0), 6) AS z
        |FROM ag CROSS JOIN nn""".stripMargin,

    "q431_growth_accounting" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |seq0 AS (SELECT user_id, d,
        |    lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
        |    lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nxt
        |  FROM act),
        |status AS (SELECT d,
        |    CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new,
        |    CASE WHEN prev = d - 1 THEN 1 ELSE 0 END AS is_retained,
        |    CASE WHEN prev IS NOT NULL AND prev < d - 1 THEN 1 ELSE 0
        |      END AS is_resurrected
        |  FROM seq0),
        |byday AS (SELECT d, CAST(count(*) AS BIGINT) AS dau,
        |    CAST(sum(is_new) AS BIGINT) AS new_users,
        |    CAST(sum(is_retained) AS BIGINT) AS retained,
        |    CAST(sum(is_resurrected) AS BIGINT) AS resurrected
        |  FROM status GROUP BY 1),
        |mx AS (SELECT max(d) AS mx FROM act),
        |churn AS (SELECT d + 1 AS cd, CAST(count(*) AS BIGINT)
        |      AS churned
        |  FROM seq0 CROSS JOIN mx
        |  WHERE d < mx AND (nxt IS NULL OR nxt > d + 1)
        |  GROUP BY 1)
        |SELECT strftime(b.d, '%Y-%m-%d') AS d, dau, new_users, retained,
        |  resurrected, COALESCE(churned, 0) AS churned,
        |  CASE WHEN COALESCE(churned, 0) > 0
        |    THEN round(CAST(new_users + resurrected AS DOUBLE) / churned,
        |      4) END AS quick_ratio
        |FROM byday b LEFT JOIN churn c ON b.d = c.cd
        |ORDER BY b.d""".stripMargin,

    "q432_median_ci" ->
      """WITH base AS (SELECT c_custkey AS ck,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY v, ck) AS BIGINT) AS rk
        |  FROM base),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |p AS (SELECT *,
        |    CAST(floor(CAST(n AS DOUBLE) / 2
        |      - 1.96 * sqrt(CAST(n AS DOUBLE)) / 2) AS BIGINT) AS l,
        |    (n + 1) // 2 AS m1, (n + 2) // 2 AS m2
        |  FROM r CROSS JOIN nn),
        |ag AS (SELECT min(n) AS n, min(l) AS l,
        |    sum(CASE WHEN rk = m1 THEN v ELSE 0 END) AS vm1,
        |    sum(CASE WHEN rk = m2 THEN v ELSE 0 END) AS vm2,
        |    sum(CASE WHEN rk = l THEN v ELSE 0 END) AS vlo,
        |    sum(CASE WHEN rk = n - l + 1 THEN v ELSE 0 END) AS vhi
        |  FROM p)
        |SELECT n AS n_cust, l AS rank_lo, n - l + 1 AS rank_hi,
        |  round(CAST(vm1 + vm2 AS DOUBLE) / 2 / 100.0, 4) AS median,
        |  round(CAST(vlo AS DOUBLE) / 100.0, 2) AS ci_lo,
        |  round(CAST(vhi AS DOUBLE) / 100.0, 2) AS ci_hi
        |FROM ag""".stripMargin,

    "q433_hampel" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |arr AS (SELECT d, y, list(y) OVER (ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
        |  FROM daily),
        |med AS (SELECT d, y, list_sort(win)[4] AS med, win
        |  FROM arr WHERE len(win) = 7),
        |mad AS (SELECT d, y, med,
        |    list_sort(list_transform(win, v -> abs(v - med)))[4] AS mad
        |  FROM med)
        |SELECT strftime(d, '%Y-%m-%d') AS d, y, med, mad,
        |  CAST(abs(y - med) AS DOUBLE) > 3.0 * 1.4826 * mad
        |    AS is_outlier
        |FROM mad ORDER BY d""".stripMargin,

    "q434_partial_correlation" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS y,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS z
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    (avg(x*y) - avg(x)*avg(y)) / sqrt((avg(x*x) - avg(x)*avg(x))
        |      * (avg(y*y) - avg(y)*avg(y))) AS rxy,
        |    (avg(x*z) - avg(x)*avg(z)) / sqrt((avg(x*x) - avg(x)*avg(x))
        |      * (avg(z*z) - avg(z)*avg(z))) AS rxz,
        |    (avg(y*z) - avg(y)*avg(z)) / sqrt((avg(y*y) - avg(y)*avg(y))
        |      * (avg(z*z) - avg(z)*avg(z))) AS ryz
        |  FROM daily)
        |SELECT n_days, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |  round(ryz, 6) AS r_yz,
        |  round((rxy - rxz * ryz) /
        |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        |    AS r_xy_given_z
        |FROM m""".stripMargin,

    "q435_confusion_gallery" ->
      s"""WITH $lrCtes,
         |thr AS (SELECT avg(p) AS thr FROM scored),
         |pred AS (SELECT y, p >= thr AS pred FROM scored CROSS JOIN thr),
         |cm AS (SELECT
         |    CAST(sum(CASE WHEN pred AND y = 1.0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS tp,
         |    CAST(sum(CASE WHEN pred AND y = 0.0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS fp,
         |    CAST(sum(CASE WHEN NOT pred AND y = 0.0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS tn,
         |    CAST(sum(CASE WHEN NOT pred AND y = 1.0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS fn
         |  FROM pred)
         |SELECT CAST(tp + fp + tn + fn AS BIGINT) AS n,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
         |  round((tp + tn) / (tp + fp + tn + fn), 6) AS accuracy,
         |  round(tp / (tp + fp), 6) AS precision,
         |  round(tp / (tp + fn), 6) AS recall,
         |  round(2.0 * (tp / (tp + fp)) * (tp / (tp + fn)) /
         |    (tp / (tp + fp) + tp / (tp + fn)), 6) AS f1,
         |  round((tp / (tp + fn) + tn / (tn + fp)) / 2.0, 6)
         |    AS balanced_acc,
         |  round((tp * tn - fp * fn) /
         |    sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)), 6)
         |    AS mcc
         |FROM cm""".stripMargin,

    "q436_simpsons_paradox" ->
      """WITH li AS (SELECT p.p_brand,
        |    CAST(l.l_discount AS DOUBLE) AS x,
        |    CAST(l.l_quantity AS DOUBLE) AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |overall AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    (avg(x*y) - avg(x)*avg(y)) / (avg(x*x) - avg(x)*avg(x))
        |      AS b_all
        |  FROM li),
        |byg AS (SELECT p_brand, CAST(count(*) AS DOUBLE) AS ng,
        |    sum(x*y) - count(*) * avg(x) * avg(y) AS sxy,
        |    sum(x*x) - count(*) * avg(x) * avg(x) AS sxx
        |  FROM li GROUP BY 1),
        |within AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    sum(sxy) / sum(sxx) AS b_within
        |  FROM byg)
        |SELECT n AS n_rows, n_groups,
        |  round(b_all, 6) AS slope_overall,
        |  round(b_within, 6) AS slope_within,
        |  sign(b_all) <> sign(b_within) AS simpson_reversal
        |FROM overall CROSS JOIN within""".stripMargin,

    "q437_kupiec_pof" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT ln(rev / lag(rev) OVER (ORDER BY d)) AS r
        |  FROM daily),
        |rr AS (SELECT r FROM r WHERE r IS NOT NULL),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(r) AS mu,
        |    sqrt(avg(r * r) - avg(r) * avg(r)) AS sd FROM rr),
        |v AS (SELECT n, mu - 1.645 * sd AS var95 FROM st),
        |x AS (SELECT min(n) AS n, min(var95) AS var95,
        |    CAST(sum(CASE WHEN r < var95 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS x
        |  FROM rr CROSS JOIN v),
        |lr AS (SELECT n, var95, x,
        |    -2.0 * ((n - x) * ln(0.95) + x * ln(0.05))
        |    + 2.0 * ((CASE WHEN n - x > 0
        |        THEN (n - x) * ln(1.0 - x / n) ELSE 0.0 END)
        |      + (CASE WHEN x > 0 THEN x * ln(x / n) ELSE 0.0 END))
        |      AS lr
        |  FROM x)
        |SELECT CAST(n AS BIGINT) AS n_days, round(var95, 6) AS var95,
        |  CAST(x AS BIGINT) AS violations,
        |  round(0.05 * n, 2) AS expected, round(lr, 6) AS lr_pof,
        |  round(lr, 6) > 3.841 AS reject_95
        |FROM lr""".stripMargin,

    "q438_ar_aging" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |aged AS (SELECT
        |    date_diff('day', o_orderdate, mx) AS age,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders CROSS JOIN mx WHERE o_orderstatus = 'O'),
        |bkt AS (SELECT CASE WHEN age <= 30 THEN '0-30'
        |      WHEN age <= 60 THEN '31-60'
        |      WHEN age <= 90 THEN '61-90' ELSE '90+' END AS bucket,
        |    cents
        |  FROM aged),
        |byb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS c
        |  FROM bkt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM byb)
        |SELECT bucket, n_orders,
        |  round(CAST(c AS DOUBLE) / 100.0, 2) AS value,
        |  round(CAST(c AS DOUBLE) / ct, 6) AS share
        |FROM byb CROSS JOIN tot ORDER BY bucket""".stripMargin,

    "q439_mantel_haenszel" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_nationkey AS nk,
        |    c.c_acctbal > 5000.0 AS expo,
        |    COALESCE(oc.cnt, 0) >= 3 AS outc
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |strat AS (SELECT nk,
        |    CAST(sum(CASE WHEN expo AND outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a,
        |    CAST(sum(CASE WHEN expo AND NOT outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b,
        |    CAST(sum(CASE WHEN NOT expo AND outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS c,
        |    CAST(sum(CASE WHEN NOT expo AND NOT outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS d,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM base GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |  round(sum(a * d / n) / sum(b * c / n), 6) AS or_mh,
        |  round((sum(a) * sum(d)) / (sum(b) * sum(c)), 6) AS or_crude
        |FROM strat""".stripMargin,

    "q440_burrows_delta" ->
      s"""WITH terms AS (SELECT source, unnest($ntoksSql) AS term
         |  FROM documents),
         |top20 AS (SELECT term FROM (
         |    SELECT term, count(*) AS c FROM terms GROUP BY 1)
         |  ORDER BY c DESC, term LIMIT 20),
         |stot AS (SELECT source, CAST(count(*) AS DOUBLE) AS nt
         |  FROM terms GROUP BY 1),
         |cnt AS (SELECT source, term, count(*) AS c FROM terms
         |  GROUP BY 1, 2),
         |f AS (SELECT s.source, t.term,
         |    CAST(COALESCE(c.c, 0) AS DOUBLE) / s.nt AS f
         |  FROM stot s CROSS JOIN top20 t
         |  LEFT JOIN cnt c ON c.source = s.source AND c.term = t.term),
         |tz AS (SELECT term, avg(f) AS mu,
         |    sqrt(avg(f * f) - avg(f) * avg(f)) AS sd
         |  FROM f GROUP BY 1),
         |z AS (SELECT f.source, f.term,
         |    (f.f - tz.mu) /
         |      (CASE WHEN tz.sd = 0.0 THEN 1.0 ELSE tz.sd END) AS z
         |  FROM f JOIN tz ON f.term = tz.term),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |    round(avg(abs(a.z - b.z)), 6) AS delta
         |  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, delta FROM pairs
         |ORDER BY delta, source_a, source_b LIMIT 10""".stripMargin,

    "q441_driver_decomposition" ->
      """WITH li AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |    o.o_custkey, l.l_orderkey,
        |    CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)),
        |agg AS (SELECT yr,
        |    CAST(count(DISTINCT o_custkey) AS DOUBLE) AS c,
        |    CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS o,
        |    CAST(count(*) AS DOUBLE) AS i,
        |    CAST(sum(cents) AS DOUBLE) / 100.0 AS r
        |  FROM li GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN yr = 1995 THEN c END) AS c0,
        |    max(CASE WHEN yr = 1996 THEN c END) AS c1,
        |    max(CASE WHEN yr = 1995 THEN o END) AS o0,
        |    max(CASE WHEN yr = 1996 THEN o END) AS o1,
        |    max(CASE WHEN yr = 1995 THEN i END) AS i0,
        |    max(CASE WHEN yr = 1996 THEN i END) AS i1,
        |    max(CASE WHEN yr = 1995 THEN r END) AS r0,
        |    max(CASE WHEN yr = 1996 THEN r END) AS r1
        |  FROM agg),
        |lm AS (SELECT *, (r1 - r0) / ln(r1 / r0) AS lmean FROM w)
        |SELECT factor, value_1995, value_1996, contribution FROM (
        |  SELECT 'customers' AS factor, round(c0, 4) AS value_1995,
        |    round(c1, 4) AS value_1996,
        |    round(lmean * ln(c1 / c0), 2) AS contribution FROM lm
        |  UNION ALL
        |  SELECT 'orders_per_customer', round(o0 / c0, 4),
        |    round(o1 / c1, 4), round(lmean * ln((o1 / c1) / (o0 / c0)), 2)
        |  FROM lm
        |  UNION ALL
        |  SELECT 'items_per_order', round(i0 / o0, 4), round(i1 / o1, 4),
        |    round(lmean * ln((i1 / o1) / (i0 / o0)), 2) FROM lm
        |  UNION ALL
        |  SELECT 'revenue_per_item', round(r0 / i0, 4), round(r1 / i1, 4),
        |    round(lmean * ln((r1 / i1) / (r0 / i0)), 2) FROM lm)
        |ORDER BY factor""".stripMargin,

    "q442_wilson_ranking" ->
      """WITH br AS (SELECT p.p_brand, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS x
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |wl AS (SELECT p_brand, n, x,
        |    (x / n + (1.96 * 1.96) / (2 * n) - 1.96 *
        |      sqrt((x / n) * (1.0 - x / n) / n +
        |        (1.96 * 1.96) / (4 * n * n))) /
        |      (1.0 + (1.96 * 1.96) / n) AS lb
        |  FROM br)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_items,
        |  CAST(x AS BIGINT) AS n_returned, round(x / n, 6) AS raw_rate,
        |  round(lb, 6) AS wilson_lb
        |FROM wl ORDER BY round(lb, 6) DESC, p_brand LIMIT 10"""
        .stripMargin,

    "q443_event_study" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS revc,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nerr
        |  FROM events GROUP BY 1),
        |dd AS (SELECT * FROM daily WHERE revc > 0),
        |eday AS (SELECT d AS e FROM dd ORDER BY nerr DESC, d LIMIT 1),
        |r AS (SELECT d, ln(CAST(revc AS DOUBLE) /
        |    lag(revc) OVER (ORDER BY d)) AS r
        |  FROM dd),
        |rr AS (SELECT * FROM r WHERE r IS NOT NULL),
        |mu AS (SELECT avg(r) AS mu FROM rr),
        |car0 AS (SELECT CAST(date_diff('day', e, d) AS BIGINT)
        |      AS rel_day, r - mu AS ar
        |  FROM rr CROSS JOIN eday CROSS JOIN mu
        |  WHERE date_diff('day', e, d) BETWEEN -5 AND 5)
        |SELECT rel_day, round(ar, 6) AS ar,
        |  round(sum(ar) OVER (ORDER BY rel_day), 6) AS car
        |FROM car0 ORDER BY rel_day""".stripMargin,

    "q444_bcg_matrix" ->
      """WITH li AS (SELECT p.p_brand,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1995
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS rev0,
        |    CAST(sum(CASE WHEN year(o.o_orderdate) = 1996
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS rev1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1 HAVING rev0 > 0 AND rev1 > 0),
        |ranked AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY rev1 DESC, p_brand)
        |      AS BIGINT) AS rk
        |  FROM li),
        |tops AS (SELECT max(CASE WHEN rk = 1 THEN rev1 END) AS m1,
        |    max(CASE WHEN rk = 2 THEN rev1 END) AS m2 FROM ranked),
        |q AS (SELECT p_brand, rk, rev1,
        |    CAST(rev1 AS DOUBLE) / rev0 - 1.0 AS growth,
        |    CAST(rev1 AS DOUBLE) /
        |      (CASE WHEN rk = 1 THEN m2 ELSE m1 END) AS rel_share
        |  FROM ranked CROSS JOIN tops)
        |SELECT p_brand,
        |  round(CAST(rev1 AS DOUBLE) / 100.0, 2) AS revenue_1996,
        |  round(growth, 6) AS growth, round(rel_share, 6) AS rel_share,
        |  CASE WHEN growth > 0 AND rel_share > 1.0 THEN 'star'
        |       WHEN growth <= 0 AND rel_share > 1.0 THEN 'cash_cow'
        |       WHEN growth > 0 THEN 'question_mark' ELSE 'dog' END
        |    AS quadrant
        |FROM q WHERE rk <= 10
        |ORDER BY round(rel_share, 6) DESC, p_brand""".stripMargin,

    "q445_greedy_knapsack" ->
      """WITH parts AS (SELECT p_partkey AS pk,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(p_size AS BIGINT) AS wt,
        |    -(CAST(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
        |      AS DOUBLE) / CAST(p_size AS BIGINT)) AS negr
        |  FROM part),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM parts),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY negr, pk) AS BIGINT) AS rk
        |  FROM parts),
        |cum AS (SELECT *, CAST(sum(wt) OVER (ORDER BY rk) AS BIGINT)
        |    AS cum_wt FROM r),
        |sel AS (SELECT *, (tw * 2) // 10 AS budget
        |  FROM cum CROSS JOIN tot WHERE cum_wt <= (tw * 2) // 10)
        |SELECT CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(min(budget) AS BIGINT) AS budget,
        |  CAST(sum(wt) AS BIGINT) AS selected_weight,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2)
        |    AS selected_value,
        |  round(CAST(sum(wt) AS DOUBLE) / min(budget), 6)
        |    AS utilization
        |FROM sel""".stripMargin,

    "q446_nearest_facility" ->
      """WITH cust AS (SELECT c_custkey AS ck,
        |    CAST((c_custkey * 48271 + 99991) % 1000000 AS BIGINT) AS x,
        |    CAST((c_custkey * 16807 + 12347) % 1000000 AS BIGINT) AS y
        |  FROM customer),
        |fac(fid, fx, fy) AS (VALUES (1, 100000, 100000),
        |  (2, 500000, 500000), (3, 900000, 100000),
        |  (4, 100000, 900000), (5, 900000, 900000)),
        |asg AS (SELECT ck, fid, d2 FROM (
        |    SELECT c.ck, f.fid,
        |      (c.x - f.fx) * (c.x - f.fx) + (c.y - f.fy) * (c.y - f.fy)
        |        AS d2,
        |      row_number() OVER (PARTITION BY c.ck ORDER BY
        |        (c.x - f.fx) * (c.x - f.fx) +
        |        (c.y - f.fy) * (c.y - f.fy), f.fid) AS rn
        |    FROM cust c CROSS JOIN fac f) WHERE rn = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM asg)
        |SELECT CAST(fid AS BIGINT) AS facility,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(avg(sqrt(CAST(d2 AS DOUBLE))), 4) AS avg_dist,
        |  round(CAST(count(*) AS DOUBLE) / min(nc), 6) AS share
        |FROM asg CROSS JOIN tot GROUP BY 1 ORDER BY facility"""
        .stripMargin,

    "q447_evalue" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c.c_nationkey AS nk,
        |    c.c_acctbal > 5000.0 AS expo,
        |    COALESCE(oc.cnt, 0) >= 3 AS outc
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |strat AS (SELECT nk,
        |    CAST(sum(CASE WHEN expo AND outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS a,
        |    CAST(sum(CASE WHEN expo AND NOT outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS b,
        |    CAST(sum(CASE WHEN NOT expo AND outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS c,
        |    CAST(sum(CASE WHEN NOT expo AND NOT outc THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS d,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM base GROUP BY 1),
        |mh AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    sum(a * d / n) / sum(b * c / n) AS or_mh FROM strat),
        |os AS (SELECT n_strata, or_mh,
        |    CASE WHEN or_mh < 1.0 THEN 1.0 / or_mh ELSE or_mh END
        |      AS ostar
        |  FROM mh)
        |SELECT n_strata, round(or_mh, 6) AS or_mh,
        |  CASE WHEN or_mh > 0
        |    THEN round(ostar + sqrt(ostar * (ostar - 1.0)), 6) END
        |    AS evalue
        |FROM os""".stripMargin,

    "q448_mmr_rerank" -> {
      def cosSql(a: String, b: String): String =
        s"CASE WHEN sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b)) = 0 THEN 0.0 " +
          s"ELSE list_dot_product($a, $b) / " +
          s"(sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b))) END"
      val rounds = (2 to 5).map { r =>
        s"""rem$r AS (SELECT c.* FROM cands c
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})),
           |sc$r AS (SELECT rm.vec_id, rm.v, rm.rel,
           |    (SELECT max(${cosSql("rm.v", "s.v")}) FROM sel${r - 1} s)
           |      AS maxsim
           |  FROM rem$r rm),
           |pk$r AS (SELECT *, 0.7 * rel - 0.3 * maxsim AS mmr FROM sc$r
           |  ORDER BY 0.7 * rel - 0.3 * maxsim DESC, vec_id LIMIT 1),
           |sel$r AS (SELECT vec_id, v, rel, maxsim, mmr, rank
           |    FROM sel${r - 1}
           |  UNION ALL SELECT vec_id, v, rel, maxsim, mmr,
           |    CAST($r AS BIGINT) FROM pk$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS qid, v AS qvec FROM e
         |  ORDER BY vec_id LIMIT 1),
         |cand0 AS (SELECT e.vec_id, e.v,
         |    ${cosSql("e.v", "qvec")} AS rel
         |  FROM e CROSS JOIN qv WHERE e.vec_id <> qid),
         |cands AS (SELECT * FROM cand0 ORDER BY rel DESC, vec_id
         |  LIMIT 10),
         |sel1 AS (SELECT vec_id, v, rel, 0.0 AS maxsim, 0.7 * rel AS mmr,
         |    CAST(1 AS BIGINT) AS rank
         |  FROM cands ORDER BY 0.7 * rel DESC, vec_id LIMIT 1),
         |$rounds
         |SELECT rank, vec_id, round(rel, 6) AS rel_to_query,
         |  round(maxsim, 6) AS max_sim_selected,
         |  round(mmr, 6) AS mmr_score
         |FROM sel5 ORDER BY rank""".stripMargin
    },

    "q449_lateral_topk" -> lateralTopkSql,

    "q450_nearest_event_join" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type
        |  FROM events WHERE event_type IN ('error', 'purchase')),
        |m AS (SELECT user_id, t, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN t END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevP,
        |    first_value(CASE WHEN event_type = 'purchase' THEN t END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS nextP
        |  FROM ev),
        |g AS (SELECT
        |    CASE WHEN prevP IS NOT NULL AND (nextP IS NULL
        |        OR t - prevP <= nextP - t)
        |      THEN t - prevP ELSE nextP - t END AS gap_us,
        |    CASE WHEN prevP IS NOT NULL AND (nextP IS NULL
        |        OR t - prevP <= nextP - t)
        |      THEN 'backward' ELSE 'forward' END AS side
        |  FROM m WHERE event_type = 'error'),
        |gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN side = 'backward' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_backward,
        |  CAST(sum(CASE WHEN side = 'forward' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_forward,
        |  round(avg(CAST(gap_us AS DOUBLE) / 1e6), 4) AS avg_gap_s,
        |  round(CAST(min(gap_us) AS DOUBLE) / 1e6, 4) AS min_gap_s,
        |  round(CAST(max(gap_us) AS DOUBLE) / 1e6, 4) AS max_gap_s
        |FROM gg""".stripMargin

  )
}
