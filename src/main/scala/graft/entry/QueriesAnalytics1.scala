package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF}
import graft.llm.{Dedup, Search, Similarity}
import graft.EntryShared._

/** Analytics breadth I — engagement, ranking metrics, hypothesis tests, ER blocking, time-series: q151-q225.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesAnalytics1 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_decayed_engagement" -> ((s, dir) => {
      // recency-weighted engagement: exponentially decayed purchase value
      // per user, tau = 7 days against the corpus max event time, in
      // exact microseconds on both engines. Top-20 on the ROUNDED score.
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      graft.ops.Resample.decayedSum(ev, "user_id", "ts", "value", 7.0 * 86400)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("decayed_sum").desc, col("user_id"))).cast("long"))
        .filter(col("rank") <= 20)
        .orderBy(col("rank"))
    }),

    "q152_mutual_info" -> ((s, dir) => {
      // column-dependency audit: mutual information + normalized MI
      // between lang and source over documents — everything computed from
      // the bounded joint count table, data shuffles once.
      graft.ops.Profile.mutualInformation(t(s, dir, "documents"), "lang", "source")
    }),

    "q153_triangles" -> ((s, dir) => {
      // triangle membership over the 3-gram Jaccard near-dup graph —
      // clique-density audit of dup clusters. Degree-ordered orientation
      // bounds the wedge join; the oracle replays with id ordering (any
      // total order finds each triangle exactly once).
      val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "text",
          "doc_id", n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"))
      graft.ops.Graph.triangleCounts(pairs, "idA", "idB")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_triangles").desc, col("node"))).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("node").as("doc_id"), col("n_triangles"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q154_event_trigrams" -> ((s, dir) => {
      // behavioral sequence mining: top-15 event-type trigrams along each
      // user's (ts, event_id)-ordered stream — one window shuffle, runs
      // collapse to partial-agg counts, total re-aggregates the bounded
      // trigram table.
      graft.ops.Sequence.ngramCounts(events(s, dir), "user_id", "ts",
          "event_id", "event_type", 3)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3")))
          .cast("long"))
        .filter(col("rank") <= 15)
        .orderBy(col("rank"))
    }),

    "q155_winsorized" -> ((s, dir) => {
      // tail-robust location estimates per event_type: winsorized (clamp
      // into the exact p10-p90 band) and trimmed (drop outside it) means
      // next to the plain mean — one percentile pass + one aggregate.
      graft.ops.Outliers.winsorizedStats(
          ScaleChecks.boundedDomain(events(s, dir),
            "event value is a cent-quantized grid bounded by its range " +
              "(~56k cells); distinct saturates, it does not track rows",
            budget = 56000L),
          "event_type", "value", 0.1, 0.9)
        .orderBy(col("event_type"))
    }),

    "q156_benford" -> ((s, dir) => {
      // fabricated-numbers screen: leading-digit distribution of value
      // per event_type vs Benford expectation, per-digit chi-squared
      // contribution; string-domain digit extraction (log10/pow can
      // misround at powers of ten).
      graft.ops.Profile.benfordAudit(events(s, dir), "event_type", "value")
        .select(col("key").as("event_type"), col("digit"), col("n_d"),
          col("obs_share"), col("benford_p"), col("chi2_term"))
        .orderBy(col("event_type"), col("digit"))
    }),

    "q157_jaro_winkler_er" -> ((s, dir) => {
      // entity-resolution scoring: first-token-blocked Jaro-Winkler over
      // distinct part names via the native codegen'd expression — the
      // oracle re-scores the same pairs with DuckDB's INDEPENDENT
      // jaro_winkler_similarity implementation (same standard parameters),
      // a cross-implementation check, not a recompute.
      val names = t(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("blk", substring_index(col("p_name"), " ", 1))
      names.select(col("blk"), col("p_name").as("name_a"))
        .join(names.select(col("blk"), col("p_name").as("name_b")), Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw", round(graft.expressions.TextExpressions
          .jaroWinkler(col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.85)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("jw").desc, col("name_a"), col("name_b")))
          .cast("long"))
        .filter(col("rank") <= 20)
        .select(col("name_a"), col("name_b"), col("jw"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q158_source_overlap" -> ((s, dir) => {
      // corpus-diversity audit: pairwise vocabulary Jaccard between
      // sources — posting-list self-join on the token key over the
      // (source, token) presence table; sizes re-aggregate that table
      // and broadcast back. |sources| is bounded, pairs are |S|^2/2.
      val st = t(s, dir, "documents")
        .select(col("source"), explode(TF.normTokens(col("text"))).as("tok"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      st.select(col("tok"), col("source").as("src_a"))
        .join(st.select(col("tok"), col("source").as("src_b")), Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("i"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("sz").as("sz_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("sz").as("sz_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("i"),
          round(col("i").cast("double") /
            (col("sz_a") + col("sz_b") - col("i")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    "q159_hits" -> ((s, dir) => {
      // HITS hubs/authorities over the item-transition graph (referrer
      // quality vs destination quality — PageRank q134 conflates them);
      // 2 fixed mutual-reinforcement rounds, L2 norms folded in as
      // broadcast 1-row frames. Top-15 authorities on ROUNDED scores.
      val ev = userItemEvents(s, dir)
      val edges = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .select(col("src"), col("item").as("dst"))
      graft.ops.Graph.hits(edges, nIter = 2)
        .select(col("node"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("auth").desc, col("node"))).cast("long"))
        .filter(col("rank") <= 15)
        .orderBy(col("rank"))
    }),

    "q160_source_calibration" -> ((s, dir) => {
      // per-source score calibration: each doc's GLOBAL quality percentile
      // (two-phase distributed ranking — no single ordering task), then
      // per-source mean percentile: a fair scorer gives every source ~0.5;
      // systematic deviation = the source's quality prior, the
      // up/down-weighting input for mixture sampling.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TF.qualityScore(col("text")).as("quality"))
      val ranked = graft.ops.PrefixSum.globalRank(docs,
        Seq(col("quality"), col("doc_id")), "grk")
      val n = docs.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(n))
        .withColumn("pr", (col("grk") - 1).cast("double") / (col("n_total") - 1))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 6).as("avg_quality"),
          round(avg(col("pr")), 6).as("avg_pctile"),
          round(min(col("pr")), 6).as("min_pctile"),
          round(max(col("pr")), 6).as("max_pctile"))
        .orderBy(col("source"))
    }),

    "q161_rbo" -> ((s, dir) => {
      // rank-biased overlap (p=0.9, depth 10) between the BM25 and
      // embedding-cosine rankings — the "do the two retrieval systems
      // agree" metric next to q128's fusion. Each common doc contributes
      // the SUFFIX sum of (1-p)p^(d-1)/d from depth max(ra, rb): the
      // depth table is 10 broadcast rows, the join is rank-pair sized.
      val queries = bm25Queries(s)
      val lex = Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          queries, 10)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast("long").as("ra"))
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), emb,
          "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rb"))
      val suffix = s.range(1, 11).select(col("id").as("d"))
        .withColumn("term", lit(0.1) * pow(lit(0.9), col("d") - 1) / col("d"))
        .withColumn("suf", sum(col("term")).over(
          Window.orderBy(col("d").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("d"), col("suf"))
      val common = lex.join(sem, Seq("query_id", "doc_id"))
        .withColumn("d", greatest(col("ra"), col("rb")))
        .join(broadcast(suffix), Seq("d"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common"), sum(col("suf")).as("rbo"))
      queries.select(col("query_id")).join(common, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round(coalesce(col("rbo"), lit(0.0)), 6).as("rbo"))
        .orderBy(col("query_id"))
    }),

    "q162_pareto_frontier" -> ((s, dir) => {
      // skyline selection: the quality-vs-length trade-off curve (no doc
      // on it is beaten on both axes) — distinct points via partial agg,
      // then a two-phase range-partitioned prefix-max scan (no single
      // global ordering task).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"),
          TF.tokenCount(col("text")).cast("long").as("ntok"))
      graft.ops.Selection.paretoFrontier2d(docs, "quality", "ntok", "doc_id")
        .select(round(col("x"), 6).as("quality"), col("y").as("ntok"),
          col("min_id").as("min_doc"), col("n_rows").as("n_docs"))
        .orderBy(col("quality").desc, col("ntok").desc, col("min_doc"))
    }),

    "q163_markov_predict" -> ((s, dir) => {
      // first-order Markov next-event prediction: transition counts from
      // the first 80% of each user's stream (one window shuffle), argmax
      // next per prev type, held-out accuracy on the remaining 20% —
      // the sequence-model sanity baseline over behavioral data.
      val seq0 = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .withColumn("rn", row_number().over(byUser).cast("long"))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("prev").isNotNull)
        .withColumn("is_train", col("rn") <= floor(col("cnt") * 0.8))
      val model = seq0.filter(col("is_train"))
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("c"))
      val pred = model.withColumn("r", row_number().over(
          Window.partitionBy(col("prev"))
            .orderBy(col("c").desc, col("next"))))
        .filter(col("r") === 1)
        .select(col("prev"), col("next").as("pred_next"))
      val trainN = model.groupBy(col("prev")).agg(sum(col("c")).as("n_train"))
      seq0.filter(!col("is_train"))
        .join(broadcast(pred), Seq("prev"))
        .join(broadcast(trainN), Seq("prev"))
        .groupBy(col("prev").as("prev_type"), col("pred_next"),
          col("n_train"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("event_type") === col("pred_next"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_test"), 6))
        .orderBy(col("prev_type"))
    }),

    "q164_tfidf_pairs" -> ((s, dir) => {
      // lexical doc-doc near-match: sparse TF-IDF cosine over the
      // df-pruned vocabulary on the planted near-dup corpus — the
      // weighted complement of set-based n-gram Jaccard (q25). Top-20 on
      // the ROUNDED cosine.
      val pairs = Search.tfidfPairs(docsWithNearDups(s, dir), "text",
        "doc_id", minDf = 2L, maxDf = 400L, threshold = 0.5)
      pairs.withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("idA"), col("idB")))
          .cast("long"))
        .filter(col("rank") <= 20)
        .orderBy(col("rank"))
    }),

    "q165_entropy_rate" -> ((s, dir) => {
      // entropy rate of user behavior: H(next | prev) from the transition
      // counts (counts-only after one window shuffle), next to the
      // unconditional H(next) — the gap is how much the previous event
      // predicts the next one (the sequence-level twin of q152's MI).
      val tr = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("c"))
      val tot = tr.agg(sum(col("c")).as("n"))
      val prevTot = tr.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
      val nextTot = tr.groupBy(col("next")).agg(sum(col("c")).as("cn"))
      val hCond = tr.join(broadcast(prevTot), Seq("prev"))
        .crossJoin(broadcast(tot))
        .agg((-sum((col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("cp")))).as("h_cond"))
      val hNext = nextTot.crossJoin(broadcast(tot))
        .agg((-sum((col("cn").cast("double") / col("n")) *
          log(col("cn").cast("double") / col("n")))).as("h_next"))
      hNext.crossJoin(broadcast(hCond))
        .select(round(col("h_next"), 6).as("h_next"),
          round(col("h_cond"), 6).as("h_cond"),
          round(col("h_next") - col("h_cond"), 6).as("info_gain"))
    }),

    "q166_trend_slopes" -> ((s, dir) => {
      // per-type linear trend of value over time: closed-form least
      // squares from ONE aggregate of (n, Σx, Σy, Σxy, Σx²) — x in days
      // since the corpus start so the arithmetic is well-conditioned and
      // identical on both engines.
      val ev = events(s, dir)
      val t0 = ev.agg(min(unix_micros(col("ts"))).as("t0"))
      ev.crossJoin(broadcast(t0))
        .withColumn("x", (unix_micros(col("ts")) - col("t0")).cast("double")
          / lit(86400e6))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("value")).as("sy"),
          sum(col("x") * col("value")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") - col("sx") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
             (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"), 6)
            .as("intercept"))
        .orderBy(col("event_type"))
    }),

    "q167_correlations" -> ((s, dir) => {
      // Pearson correlations between lineitem measures via the EXPLICIT
      // sum formula (engine corr() aggregates differ in n vs n-1 and
      // pairwise-null handling across engines; raw sums do not): one
      // aggregate pass for all three pairs.
      def r(x: String, y: String) = {
        val n = col("n")
        (n * col(s"s_${x}_$y") - col(s"s_$x") * col(s"s_$y")) /
          sqrt((n * col(s"s_${x}_$x") - col(s"s_$x") * col(s"s_$x")) *
            (n * col(s"s_${y}_$y") - col(s"s_$y") * col(s"s_$y")))
      }
      t(s, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("q"),
          col("l_extendedprice").cast("double").as("p"),
          col("l_discount").cast("double").as("d"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("q")).as("s_q"), sum(col("p")).as("s_p"),
          sum(col("d")).as("s_d"),
          sum(col("q") * col("q")).as("s_q_q"),
          sum(col("p") * col("p")).as("s_p_p"),
          sum(col("d") * col("d")).as("s_d_d"),
          sum(col("q") * col("p")).as("s_q_p"),
          sum(col("q") * col("d")).as("s_q_d"),
          sum(col("p") * col("d")).as("s_p_d"))
        .select(col("n").cast("long").as("n"),
          round(r("q", "p"), 6).as("r_qty_price"),
          round(r("q", "d"), 6).as("r_qty_disc"),
          round(r("p", "d"), 6).as("r_price_disc"))
    }),

    "q168_ks_test" -> ((s, dir) => {
      // two-sample Kolmogorov-Smirnov: en vs non-en quality distributions.
      // Points collapse to the distinct-value count table FIRST (partial
      // agg), cumulative counts via the two-phase prefix scan (unique
      // order = the value itself), KS = max CDF gap — the
      // exact-distribution drift gate next to binned PSI (q137).
      val docs = t(s, dir, "documents")
        .select(TF.qualityScore(col("text")).as("v"),
          (col("lang") === "en").as("is_a"))
      val pts = docs.groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      val c1 = graft.ops.PrefixSum.groupedRunningSum(
        pts.withColumn("__g", lit(1)), "__g", "v", col("ca"), "cum_a")
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        c1, "__g", "v", col("cb"), "cum_b")
      val tot = pts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      cum.crossJoin(broadcast(tot))
        .select(col("na"), col("nb"), col("v"),
          round(abs(col("cum_a").cast("double") / col("na") -
            col("cum_b").cast("double") / col("nb")), 6).as("gap"))
        .groupBy(col("na"), col("nb"))
        .agg(max(col("gap")).as("ks"),
          round(max_by(col("v"), struct(col("gap"), -col("v"))), 6)
            .as("ks_at"))
        .select(col("na"), col("nb"), col("ks"), col("ks_at"))
    }),

    "q169_auc" -> ((s, dir) => {
      // ROC AUC of the q138/q144 classifier via the tie-correct
      // Mann-Whitney rank-sum: distinct-score table + one two-phase
      // cumulative count gives average ranks without any global sort.
      val (feat, cols, w) = classifierModel(s, dir)
      val z = cols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val scored = feat.select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p"))
      val pts = scored.groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("cpos"),
          count(lit(1)).as("ctot"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        pts.withColumn("__g", lit(1)), "__g", "p", col("ctot"), "cum_t")
      val rsum = cum
        .select((col("cpos").cast("double") *
          (col("cum_t").cast("double") - (col("ctot") - 1).cast("double") / 2))
          .as("rs"))
        .agg(sum(col("rs")).as("rank_sum"))
      val tot = pts.agg(sum(col("cpos")).as("n_pos"),
        (sum(col("ctot")) - sum(col("cpos"))).as("n_neg"))
      rsum.crossJoin(broadcast(tot))
        .select(col("n_pos"), col("n_neg"),
          round((col("rank_sum") - col("n_pos").cast("double") *
            (col("n_pos") + 1) / 2) /
            (col("n_pos").cast("double") * col("n_neg")), 6).as("auc"))
    }),

    "q170_gini" -> ((s, dir) => {
      // engagement concentration: Gini over per-user total value via the
      // two-phase global rank (no single ordering task) plus the top-10%
      // share — the "how skewed is the corpus toward heavy users" audit.
      val totals = events(s, dir)
        .groupBy(col("user_id")).agg(sum(col("value")).as("t"))
      val ranked = graft.ops.PrefixSum.globalRank(totals,
        Seq(col("t"), col("user_id")), "rk")
      val n = totals.agg(count(lit(1)).as("n_users"), sum(col("t")).as("total"))
      ranked.crossJoin(broadcast(n))
        .groupBy(col("n_users"), col("total"))
        .agg(
          round(lit(2.0) * sum(col("rk") * col("t")) /
            (col("n_users") * col("total")) -
            (col("n_users") + 1).cast("double") / col("n_users"), 6)
            .as("gini"),
          round(sum(when(col("rk") > col("n_users") * 0.9, col("t"))
            .otherwise(0.0)) / col("total"), 6).as("top_decile_share"))
        .select(col("n_users"), round(col("total"), 4).as("total"),
          col("gini"), col("top_decile_share"))
    }),

    "q171_window_gallery" -> ((s, dir) => {
      // ranking-window gallery as identical SQL text on both engines:
      // dense_rank/cume_dist are tie-stable by definition, nth_value runs
      // over an explicit full frame with a total order.
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(windowGallerySql)
    }),

    "q172_equidepth_hist" -> ((s, dir) => {
      // equal-mass deciles of extended price: equi-depth complement of the
      // equi-width q103 — all 9 edges from ONE declarative two-phase
      // exact-percentile pass (extended price is a continuous domain), bin
      // assignment by strict-compare count against the broadcast array.
      graft.ops.Profile.equiDepthHistogram(
          t(s, dir, "lineitem").select(
            col("l_extendedprice").cast("double").as("v")), "v", 10)
        .orderBy(col("bucket"))
    }),

    "q173_vocab_drift" -> ((s, dir) => {
      // vocabulary drift between corpus halves (doc_id parity): KL(P||Q)
      // over add-1-smoothed unigram distributions on the union vocab,
      // plus the top-15 tokens by rounded KL contribution — the
      // token-space twin of numeric PSI (q137).
      val toks = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("is_p"),
          explode(TF.normTokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("tok"))
        .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
          sum(when(!col("is_p"), 1L).otherwise(0L)).as("cq"))
      val tot = counts.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
        count(lit(1)).as("v"))
      val sc = counts.crossJoin(broadcast(tot))
        .withColumn("p", (col("cp") + 1).cast("double") / (col("np") + col("v")))
        .withColumn("q", (col("cq") + 1).cast("double") / (col("nq") + col("v")))
        .withColumn("contrib", round(col("p") * log(col("p") / col("q")), 8))
      val kl = sc.agg(round(sum(col("p") * log(col("p") / col("q"))), 6)
        .as("kl_total"))
      sc.withColumn("rank", row_number().over(
          Window.orderBy(col("contrib").desc, col("tok"))).cast("long"))
        .filter(col("rank") <= 15)
        .crossJoin(broadcast(kl))
        .select(col("rank"), col("tok"), col("cp"), col("cq"),
          col("contrib"), col("kl_total"))
        .orderBy(col("rank"))
    }),

    "q174_audio_decode" -> ((s, dir) => {
      // REAL audio decode through the multimodal seam: planted RIFF/WAVE
      // PCM tones (pure-JDK synth + parse — the audio twin of the q31/q117
      // ImageIO path) decoded back to rate/duration/RMS and checked
      // against the planted truth; every third tone is transcoded to
      // AIFF or AU so the javax.sound.sampled arm is exercised on the
      // same planted truth (identical 16-bit samples -> identical RMS);
      // non-audio payloads take the flagged deterministic fallback.
      // Output = invariant metric row.
      import s.implicits._
      val amps = Seq(0.25, 0.5, 0.9)
      val rates = Seq(8000, 16000, 44100)
      val planted = (0 until 24).map { i =>
        val rate = rates(i % 3); val millis = 100 * (1 + i % 2)
        val amp = amps((i / 3) % 3)
        val wav = graft.llm.Multimodal.sineWav(rate, millis, 200.0 + 37 * i, amp)
        val payload = i % 3 match {
          case 1 => graft.llm.Multimodal.transcodeWav(wav, "aiff")
          case 2 => graft.llm.Multimodal.transcodeWav(wav, "au")
          case _ => wav
        }
        (i.toLong, rate, millis, amp, payload)
      }
      val fakes = (24 until 30).map(i =>
        (i.toLong, 0, 0, 0.0, s"not audio payload $i".getBytes("UTF-8")))
      val df = (planted ++ fakes)
        .toDF("id", "rate", "millis", "amp", "payload")
      val dec = graft.llm.Multimodal.decodeAudioMetaKeyed(df, "id", "payload")
      df.select(col("id"), col("rate"), col("millis"), col("amp"))
        .join(dec, Seq("id"))
        .agg(count(lit(1)).as("n_payloads"),
          sum(when(col("is_real"), 1L).otherwise(0L)).as("n_real"),
          sum(when(col("is_real") && col("sample_rate") === col("rate") &&
            col("channels") === 1 && col("bits") === 16, 1L).otherwise(0L))
            .as("n_rate_ok"),
          sum(when(col("is_real") && col("duration_ms") === col("millis"),
            1L).otherwise(0L)).as("n_dur_ok"),
          sum(when(col("is_real") &&
            abs(col("rms_milli") - round(col("amp") * lit(1000.0) /
              math.sqrt(2.0))) <= 20, 1L).otherwise(0L)).as("n_rms_ok"),
          sum(when(!col("is_real"), 1L).otherwise(0L)).as("n_fake_flagged"))
    }),

    "q175_acf" -> ((s, dir) => {
      // autocorrelation of the daily engagement series at lags 1..3. The
      // day-level reduction happens in a hash aggregate FIRST (series
      // length is calendar-bounded, not corpus-bounded), the index comes
      // from the two-phase global rank, and each lag is an equi-join on
      // the shifted index — no window over raw events, no O(n²).
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
      val shifted = idx.crossJoin(broadcast(Seq(1, 2, 3).toDF("lag")))
        .select(col("lag"), (col("i") + col("lag")).as("i"),
          col("y").as("y_lag"))
      idx.join(shifted, Seq("i"))
        .crossJoin(broadcast(st))
        .groupBy(col("lag"), col("mu"), col("denom"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("y") - col("mu")) * (col("y_lag") - col("mu"))).as("num"))
        .select(col("lag"), col("n_pairs"),
          round(col("num") / col("denom"), 6).as("acf"))
        .orderBy(col("lag"))
    }),

    "q176_cusum" -> ((s, dir) => {
      // CUSUM changepoint over the daily revenue series: S_i = cum_i −
      // i·mean, built from integer cents so the running state is EXACT
      // long arithmetic (engine-portable; floats appear only in the final
      // statistic, computed from identical longs on both engines). The
      // two-phase prefix sum keeps every task range-partition-bounded;
      // the argmax is a bounded top-1, not a global sort.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("cents"))
      val idx = graft.ops.PrefixSum.globalRank(daily, Seq(col("day")), "i")
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        idx.withColumn("__g", lit(1)), "__g", "day", col("cents"),
        "cum_cents")
      val st = daily.agg(sum(col("cents")).cast("double").as("tot"),
        count(lit(1)).cast("double").as("n"))
      cum.crossJoin(broadcast(st))
        .withColumn("s", col("cum_cents").cast("double") / 100.0 -
          col("i").cast("double") * (col("tot") / 100.0) / col("n"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("i").as("day_idx"),
          round(abs(col("s")), 4).as("abs_cusum"),
          round(col("s"), 4).as("cusum"))
        .orderBy(col("abs_cusum").desc, col("day"))
        .limit(1)
    }),

    "q177_kaplan_meier" -> ((s, dir) => {
      // Kaplan-Meier churn survival over customer order lifespans:
      // duration = days first→last order, churn event = last order >90
      // days before the corpus end (else right-censored). Risk sets are
      // ONE suffix count over the distinct-duration table (calendar-
      // bounded, so the product window is safe at any customer count);
      // the product-limit estimator is exp(Σ ln((n−d)/n)) over event
      // times — integer-derived ratios, 6-dp parity holds cross-engine.
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
      // n_risk == d_events can only happen at the maximal duration (no
      // one outlives it) — excluded so ln stays finite on both engines.
      risk.filter(col("d_events") > 0 && col("n_risk") > col("d_events"))
        .withColumn("survival", round(exp(sum(log(
          (col("n_risk") - col("d_events")).cast("double") /
            col("n_risk").cast("double"))).over(durRunning)), 6))
        .select(col("dur").as("duration_days"), col("n_risk"),
          col("d_events"), col("survival"))
        .orderBy(col("duration_days"))
    }),

    "q178_rfm" -> ((s, dir) => {
      // RFM segmentation with PORTABLE quintiles: monetary in exact
      // integer cents (double sums would wobble the sort at quintile
      // boundaries), ranks from the two-phase global rank (no
      // whole-table NTILE window), and the quintile as explicit integer
      // arithmetic 1 + (rank−1)·5 div n — identical on any engine,
      // every task range-partition-bounded at any customer count.
      val maxD = t(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last"),
          count(lit(1)).as("freq"),
          sum(floor(col("o_totalprice") * 100 + 0.5)).as("cents"))
        .crossJoin(broadcast(maxD))
        .select(col("o_custkey"),
          datediff(col("mx"), col("last")).cast("long").as("recency"),
          col("freq"), col("cents"))
      val tot = cust.agg(count(lit(1)).as("n_cust"))
      def quint(df: DataFrame, rankCol: String, out: String) =
        df.crossJoin(broadcast(tot))
          // `div`, not `/`: Spark's `/` on longs yields DOUBLE
          .withColumn(out, expr(s"1 + (($rankCol - 1) * 5) div n_cust"))
          .drop(rankCol, "n_cust")
      var scored = graft.ops.PrefixSum.globalRank(cust,
        Seq(col("recency"), col("o_custkey")), "rr")
      scored = quint(scored, "rr", "r_q")
      scored = quint(graft.ops.PrefixSum.globalRank(scored,
        Seq(-col("freq"), col("o_custkey")), "fr"), "fr", "f_q")
      scored = quint(graft.ops.PrefixSum.globalRank(scored,
        Seq(-col("cents"), col("o_custkey")), "mr"), "mr", "m_q")
      scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("cents")).cast("double") / 100.0, 2)
            .as("monetary_total"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    }),

    "q179_two_proportion" -> ((s, dir) => {
      // two-proportion z-test: high-value order rate, BUILDING vs
      // MACHINERY customers. ONE aggregate pass over the fact join; the
      // statistic is computed from four integers so both engines see
      // identical doubles.
      val hv = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").as("is_a"),
          (col("o_totalprice") > 150000).as("hit"))
      hv.agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a") && col("hit"), 1L).otherwise(0L)).as("x_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_a") && col("hit"), 1L).otherwise(0L)).as("x_b"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          round(col("x_a").cast("double") / col("n_a"), 6).as("p_a"),
          round(col("x_b").cast("double") / col("n_b"), 6).as("p_b"),
          round((col("x_a").cast("double") / col("n_a") -
              col("x_b").cast("double") / col("n_b")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)
            .as("z"))
    }),

    "q180_simpson" -> ((s, dir) => {
      // Simpson's-paradox audit: does the BUILDING-vs-MACHINERY
      // high-value rate gap hold inside every order-priority stratum, or
      // does pooling reverse it? Counts-only per stratum + a pooled
      // 'ALL' row; the reversal flag is integer-derived (rate
      // comparison via cross-multiplication — no float division in the
      // decision).
      val base = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("o_orderpriority").as("stratum"),
          (col("c_mktsegment") === "BUILDING").as("is_a"),
          (col("o_totalprice") > 150000).as("hit"))
      val per = base.groupBy(col("stratum"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a") && col("hit"), 1L).otherwise(0L)).as("x_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_a") && col("hit"), 1L).otherwise(0L)).as("x_b"))
      val pooled = per.agg(sum(col("n_a")).as("n_a"),
          sum(col("x_a")).as("x_a"), sum(col("n_b")).as("n_b"),
          sum(col("x_b")).as("x_b"))
        .withColumn("stratum", lit("ALL"))
        .select(col("stratum"), col("n_a"), col("x_a"), col("n_b"),
          col("x_b"))
      per.select(col("stratum"), col("n_a"), col("x_a"), col("n_b"),
          col("x_b"))
        .unionByName(pooled)
        .select(col("stratum"), col("n_a"), col("x_a"), col("n_b"),
          col("x_b"),
          round(col("x_a").cast("double") / col("n_a"), 6).as("rate_a"),
          round(col("x_b").cast("double") / col("n_b"), 6).as("rate_b"),
          // a leads iff x_a·n_b > x_b·n_a — exact cross-multiply in
          // decimal so the comparison can't overflow long at any count
          (col("x_a").cast("decimal(20,0)") * col("n_b").cast("decimal(20,0)") >
            col("x_b").cast("decimal(20,0)") * col("n_a").cast("decimal(20,0)"))
            .as("a_leads"))
        .orderBy(col("stratum"))
    }),

    "q181_snm_blocking" -> ((s, dir) => {
      // sorted-neighborhood ER blocking — the classic alternative when
      // key-blocking (q157's first-token blocks) skews: ONE global sort
      // via the two-phase rank, then candidate pairs are the w=2 index
      // neighbors (a shifted equi-join, so candidate count is exactly
      // w·n — bounded by construction, no hot block can go quadratic).
      // Scores come from the native codegen'd Jaro-Winkler; the oracle
      // re-scores with DuckDB's independent implementation.
      import s.implicits._
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val idx = graft.ops.PrefixSum.globalRank(names,
        Seq(col("p_name")), "i")
      val shifted = idx.crossJoin(broadcast(Seq(1, 2).toDF("off")))
        .select((col("i") + col("off")).as("i"),
          col("p_name").as("name_a"))
      idx.select(col("i"), col("p_name").as("name_b"))
        .join(shifted, Seq("i"))
        .withColumn("jw", round(graft.expressions.TextExpressions
          .jaroWinkler(col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= lit(0.88))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("jw").desc, col("name_a"), col("name_b")))
          .cast("long"))
        .filter(col("rank") <= 15)
        .select(col("name_a"), col("name_b"), col("jw"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q182_weekday_chi2" -> ((s, dir) => {
      // order-volume seasonality: weekday profile + chi-square uniformity
      // terms. The weekday index is PORTABLE day-count arithmetic from a
      // known Monday epoch (engine dayofweek() conventions differ); all
      // floats derive from integer counts.
      val dow = t(s, dir, "orders")
        .select((datediff(col("o_orderdate"), lit("1990-01-01"))
          .cast("long") % 7).as("dow_idx"))
        .groupBy(col("dow_idx"))
        .agg(count(lit(1)).as("n_orders"))
      val tot = dow.agg(sum(col("n_orders")).cast("double").as("n"))
      dow.crossJoin(broadcast(tot))
        .select(col("dow_idx"), col("n_orders"),
          round(col("n") / 7.0, 2).as("expected"),
          round(pow(col("n_orders").cast("double") - col("n") / 7.0, 2.0) /
            (col("n") / 7.0), 4).as("chi2_term"))
        .orderBy(col("dow_idx"))
    }),

    "q183_fk_integrity" -> ((s, dir) => {
      // referential-integrity audit over the warehouse FK graph: orphan
      // counts via anti-joins (each one a shuffle or broadcast join on
      // the FK key — the anti side never materializes the match). Small
      // dimension parents (nation) broadcast; fact-to-fact edges shuffle
      // on the key as they must.
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String, bcast: Boolean) = {
        val p0 = parent.select(col(pkey)).distinct()
        val pp = if (bcast) broadcast(p0) else p0
        val orphans = child.select(col(key))
          .join(pp, col(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans)
          .select(lit(name).as("fk_edge"), col("n_child"),
            col("n_orphans"))
      }
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val p = t(s, dir, "part"); val n = t(s, dir, "nation")
      edge("customer.nation", c, "c_nationkey", n, "n_nationkey", bcast = true)
        .unionByName(edge("lineitem.orders", li, "l_orderkey", o,
          "o_orderkey", bcast = false))
        .unionByName(edge("lineitem.part", li, "l_partkey", p,
          "p_partkey", bcast = false))
        .unionByName(edge("lineitem.supplier", li, "l_suppkey", su,
          "s_suppkey", bcast = false))
        .unionByName(edge("orders.customer", o, "o_custkey", c,
          "c_custkey", bcast = false))
        .unionByName(edge("supplier.nation", su, "s_nationkey", n,
          "n_nationkey", bcast = true))
        .orderBy(col("fk_edge"))
    }),

    "q184_burst_days" -> ((s, dir) => {
      // burst detection: days whose event count spikes vs the TRAILING
      // 28-day window (current day excluded — no self-inflation). The
      // rolling stats run over the calendar-bounded daily table (the
      // heavy reduction already happened in the hash aggregate), and
      // mean/σ derive from integer count sums, so both engines see
      // identical doubles. Top-10 by rounded z with day tiebreak.
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("day")).rowsBetween(-28, -1)
      daily
        .withColumn("n_win", count(col("c")).over(w))
        .withColumn("s1", sum(col("c")).over(w))
        .withColumn("s2", sum(col("c") * col("c")).over(w))
        .filter(col("n_win") >= 14)
        .withColumn("mu", col("s1").cast("double") / col("n_win"))
        .withColumn("var",
          (col("s2").cast("double") -
            col("s1").cast("double") * col("s1") / col("n_win")) /
            col("n_win"))
        .filter(col("var") > 0)
        .withColumn("z", round((col("c").cast("double") - col("mu")) /
          sqrt(col("var")), 4))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("z").desc, col("day"))).cast("long"))
        .filter(col("rank") <= 10)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("c").as("n_events"), round(col("mu"), 4).as("mu_28"),
          col("z"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q185_sentence_stats" -> ((s, dir) => {
      // per-language sentence profile: [.!?]+ segmentation, whitespace
      // word counts, averaged per doc then per language. Fragment
      // filtering (trim non-empty) is explicit on BOTH engines because
      // split() edge semantics around trailing separators differ.
      val frags = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), "[.!?]+")).as("frag"))
        .withColumn("frag", trim(col("frag")))
        .filter(length(col("frag")) > 0)
        .withColumn("n_words", size(split(col("frag"), "\\s+")).cast("long"))
      val perDoc = frags.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_sent"), sum(col("n_words")).as("n_words"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_sent")).cast("double") / count(lit(1)), 4)
            .as("avg_sentences"),
          round(sum(col("n_words")).cast("double") / sum(col("n_sent")), 4)
            .as("words_per_sentence"))
        .orderBy(col("lang"))
    }),

    "q186_yoy_growth" -> ((s, dir) => {
      // year-over-year revenue growth: yearly totals in exact integer
      // cents, growth = self-join on year−1 (a tiny broadcast — years
      // are calendar-bounded) — the float appears only in the final
      // ratio, from identical longs on both engines.
      val yearly = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("cents"),
          count(lit(1)).as("n_orders"))
      yearly.join(broadcast(yearly.select((col("yr") + 1).as("yr"),
          col("cents").as("prev_cents"))), Seq("yr"), "left")
        .select(col("yr"), col("n_orders"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"),
          round((col("cents") - col("prev_cents")).cast("double") /
            col("prev_cents").cast("double") * 100.0, 4).as("yoy_pct"))
        .orderBy(col("yr"))
    }),

    "q187_stickiness" -> ((s, dir) => {
      // DAU/MAU stickiness per month: two exact distinct-count
      // reductions (day-level and month-level) joined on the month —
      // counts stay integers until the final ratios.
      val ev = events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM").as("month"),
          to_date(col("ts")).as("day"), col("user_id"))
      val dau = ev.select(col("month"), col("day"), col("user_id"))
        .distinct()
        .groupBy(col("month"), col("day"))
        .agg(count(lit(1)).as("dau"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
      val mau = ev.select(col("month"), col("user_id")).distinct()
        .groupBy(col("month")).agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("month"))
        .select(col("month"), col("n_days"), col("mau"),
          round(col("dau_sum").cast("double") / col("n_days"), 4)
            .as("avg_dau"),
          round(col("dau_sum").cast("double") / col("n_days") /
            col("mau"), 4).as("stickiness"))
        .orderBy(col("month"))
    }),

    "q188_weighted_quantiles" -> ((s, dir) => {
      // quantity-weighted price quantiles: values collapse to the
      // distinct-cents table first (hash agg), cumulative weights via the
      // two-phase prefix sum, and each quantile is the min value whose
      // cumulative weight clears an INTEGER ceil threshold — no float
      // compare in the cut decision, portable at any scale.
      import s.implicits._
      val pts = t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).as("cents"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("cents")).agg(sum(col("w")).as("cw"))
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        pts.withColumn("__g", lit(1)), "__g", "cents", col("cw"), "cum_w")
      val tot = pts.agg(sum(col("cw")).as("tw"))
      val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
        .toDF("q_label", "num", "den")
      val thr = broadcast(qs.crossJoin(tot)
        .select(col("q_label"),
          expr("(tw * num + den - 1) div den").as("thr")))
      cum.crossJoin(thr)
        .filter(col("cum_w") >= col("thr"))
        .groupBy(col("q_label"))
        .agg(round(min(col("cents")).cast("double") / 100.0, 2)
          .as("weighted_price"))
        .orderBy(col("q_label"))
    }),

    "q189_zipf_slope" -> ((s, dir) => {
      // Zipf exponent of the corpus token distribution: frequency ranks
      // from the two-phase global rank over the token-count table, slope
      // of ln(freq) vs ln(rank) on the top 1000 by closed-form least
      // squares (ONE aggregate) — a one-row corpus-health gauge next to
      // the drift (q173) and entropy (q165) signals.
      val tok = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tokn"))
        .groupBy(col("tokn")).agg(count(lit(1)).as("freq"))
      val ranked = graft.ops.PrefixSum.globalRank(tok,
          Seq(-col("freq"), col("tokn")), "rank")
        .filter(col("rank") <= 1000)
        .select(log(col("rank").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y"))
      ranked.agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_tokens"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"),
          round((col("sy") - col("sx") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
             (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"),
            6).as("intercept"))
    }),

    "q190_ngram_novelty" -> ((s, dir) => {
      // train/test 5-gram novelty — the generalization/memorization gauge:
      // what fraction of the held-out half's distinct 5-grams never occur
      // in the training half. Engine side ships ONLY 8-byte gram hashes
      // (shuffle rows are (flag, hash)); the oracle rebuilds the same sets
      // from the STRING grams — a cross-representation check.
      val side = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("is_train"),
          explode(graft.expressions.TextExpressions.ngramHashes(TF.normTokens(col("text")), 5)).as("g"))
        .distinct()
      side.groupBy(col("g"))
        .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("in_train"),
          max(when(!col("is_train"), 1L).otherwise(0L)).as("in_test"))
        .agg(sum(col("in_train")).as("n_train_grams"),
          sum(col("in_test")).as("n_test_grams"),
          sum(when(col("in_test") === 1 && col("in_train") === 0, 1L)
            .otherwise(0L)).as("n_novel"))
        .select(col("n_train_grams"), col("n_test_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_test_grams"), 6)
            .as("novelty_rate"))
    }),

    "q191_template_coverage" -> ((s, dir) => {
      // boilerplate/template detection: 5-grams shared by >=3 documents
      // are "template" grams; a document's coverage is the share of its
      // DISTINCT grams that are template. Only (doc_id, hash) rows
      // shuffle; the df threshold is absolute (planted near-dup families
      // hold it across scale factors, max df is fixture-bounded).
      val grams = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.expressions.TextExpressions.ngramHashes(TF.normTokens(col("text")), 5)).as("g"))
        .distinct()
      val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val cov = grams.join(df, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("coverage",
          col("n_boiler").cast("double") / col("n_grams"))
      cov.agg(count(lit(1)).as("n_docs"),
          sum(when(col("coverage") >= 0.5, 1L).otherwise(0L))
            .as("n_flagged"),
          round(sum(col("coverage")) / count(lit(1)), 6)
            .as("avg_coverage"),
          sum(col("n_boiler")).as("n_boiler_hits"))
        .select(col("n_docs"), col("n_flagged"), col("n_boiler_hits"),
          col("avg_coverage"))
    }),

    "q192_price_elasticity" -> ((s, dir) => {
      // per-brand demand elasticity: closed-form least squares of
      // ln(quantity) on ln(unit price) — the grouped log-log variant of
      // the q166 trend machinery, ONE aggregate pass after the part join
      // (broadcast: parts are dimension-sized).
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("double").as("q"),
          (col("l_extendedprice") / col("l_quantity")).as("up"))
        .filter(col("q") > 0 && col("up") > 0)
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), log(col("q")).as("y"),
          log(col("up")).as("x"))
      li.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("p_brand"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("elasticity"))
        .orderBy(col("p_brand"))
    }),

    "q193_hhi_concentration" -> ((s, dir) => {
      // market-concentration audit: Herfindahl index of supplier revenue
      // share within each nation. Shares come from exact integer cents
      // (two hash aggregates), so HHI is identical doubles on both
      // engines; the nation dim broadcasts.
      val bySupp = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)).as("cents"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
      val byNation = bySupp.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("tot"))
      bySupp.join(broadcast(byNation), Seq("s_nationkey"))
        .groupBy(col("s_nationkey"), col("n_suppliers"))
        .agg(round(sum(pow(col("cents").cast("double") /
          col("tot").cast("double"), 2.0)), 6).as("hhi"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"), col("hhi"))
        .orderBy(col("n_name"))
    }),

    "q194_interpurchase" -> ((s, dir) => {
      // inter-purchase interval profile: per-customer consecutive-order
      // gaps via a PARTITIONED lag window (key-bounded tasks), then exact
      // global percentiles of the integer gap-days — the single counts
      // buffer percentile, interpolation semantics shared by both
      // engines (q44 precedent).
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"))
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(datediff(col("o_orderdate"), col("prev")).cast("long")
          .as("gap"))
      ScaleChecks.boundedDomain(gaps,
          "integer day gaps bounded by the order-date calendar span " +
            "(~2.5k distinct values at any corpus size)",
          budget = 2600L)
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(gap, array(0.25D, 0.5D, 0.75D))").as("ps"))
        .select(col("n_gaps"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
    }),

    "q195_cohort_ltv" -> ((s, dir) => {
      // cohort lifetime value: customers grouped by first-order year,
      // revenue in exact integer cents; two reductions, no windows.
      val firstYr = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(year(min(col("o_orderdate"))).cast("long").as("cohort"),
          sum(floor(col("o_totalprice") * 100 + 0.5)).as("cents"))
      firstYr.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("cents")).cast("double") / 100.0, 2)
            .as("revenue"),
          round(sum(col("cents")).cast("double") / 100.0 /
            count(lit(1)), 2).as("ltv_per_customer"))
        .orderBy(col("cohort"))
    }),

    "q196_ship_lag" -> ((s, dir) => {
      // fulfillment latency: order→ship lag in days per order priority —
      // the fact-fact key join shuffles once on the order key, then the
      // integer gap-days reduce per priority. The exact median uses the
      // builtin percentile(): its buffer is a value→COUNT map, bounded
      // by DISTINCT lag values — a calendar-bounded integer domain
      // (~2.5k days), flat at any corpus size. (Continuous/unbounded
      // value domains must use PrefixSum.exactPercentiles instead —
      // q573 is the gallery's example.)
      val lag0 = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lag_days"))
      ScaleChecks.boundedDomain(lag0,
          "integer order-to-ship lag days bounded by the signed calendar " +
            "span (<= ~5.2k distinct values at any corpus size; f30 " +
            "measured 4,671, exactly flat)",
          budget = 5200L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("lag_days")).cast("double") / count(lit(1)), 4)
            .as("avg_lag"),
          expr("percentile(lag_days, 0.5D)").as("med0"),
          max(col("lag_days")).as("max_lag"))
        .select(col("o_orderpriority"), col("n_lines"), col("avg_lag"),
          round(col("med0"), 4).as("median_lag"), col("max_lag"))
        .orderBy(col("o_orderpriority"))
    }),

    "q197_abc_analysis" -> ((s, dir) => {
      // ABC inventory classification: parts ranked by revenue, class cut
      // at 80% / 95% of CUMULATIVE revenue share — prefix sums in exact
      // integer cents with the class decision as an integer
      // cross-multiply (cum·100 vs threshold·total), no float compares.
      val byPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)).as("cents"))
      val ranked = graft.ops.PrefixSum.globalRank(byPart,
        Seq(-col("cents"), col("l_partkey")), "r")
      val cum = graft.ops.PrefixSum.groupedRunningSum(
        ranked.withColumn("__g", lit(1)), "__g", "r", col("cents"),
        "cum_cents")
      val tot = byPart.agg(sum(col("cents")).as("tot"))
      cum.crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum_cents").cast("decimal(25,0)") * 100 <=
              col("tot").cast("decimal(25,0)") * 80, "A")
            .when(col("cum_cents").cast("decimal(25,0)") * 100 <=
              col("tot").cast("decimal(25,0)") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("cents")).cast("double") / 100.0, 2)
            .as("revenue"))
        .orderBy(col("abc_class"))
    }),

    "q198_return_rate" -> ((s, dir) => {
      // per-brand return rate with a Wilson 95% interval — the
      // skew-robust CI for proportions; everything derives from two
      // integer counts per brand, so both engines compute identical
      // doubles. Broadcast dim join, one reduction.
      val z = 1.96
      val base = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("x"))
      val p = col("x").cast("double") / col("n")
      val nD = col("n").cast("double")
      val denom = lit(1.0) + lit(z * z) / nD
      val center = p + lit(z * z) / (nD * 2)
      val spread = sqrt(p * (lit(1.0) - p) / nD +
        lit(z * z) / (nD * nD * 4)) * lit(z)
      base.select(col("p_brand"), col("n"), col("x"),
          round(p, 6).as("rate"),
          round((center - spread) / denom, 6).as("wilson_lo"),
          round((center + spread) / denom, 6).as("wilson_hi"))
        .orderBy(col("p_brand"))
    }),

    "q199_dup_families" -> ((s, dir) => {
      // exact-duplicate family-size histogram: family = identical text,
      // histogram = families per size — the SHAPE of duplication, not
      // just the rate (q50 reports the rate). Two hash aggregates; at
      // scale the first keys on the 8-byte fingerprint (q19 machinery)
      // instead of the full text — the string key here keeps the oracle
      // byte-exact.
      t(s, dir, "documents")
        .groupBy(col("text")).agg(count(lit(1)).as("family_size"))
        .groupBy(col("family_size"))
        .agg(count(lit(1)).as("n_families"))
        .select(col("family_size"), col("n_families"),
          (col("family_size") * col("n_families")).as("n_docs"))
        .orderBy(col("family_size"))
    }),

    "q200_filter_funnel" -> ((s, dir) => {
      // the training-data cleaning funnel: cumulative survivors after
      // each gate (length band → language → quality → exact dedup) in
      // ONE aggregate pass over the scored corpus — conditional sums
      // plus a distinct-on-survivors count, then stack() to rows. The
      // per-rule drop report is the pipeline-ops view of q50's composed
      // gate.
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
        .withColumn("lang_pred", TF.langIdHeuristic(col("text")))
        .withColumn("quality", TF.qualityScore(col("text")))
      val c1 = col("n_tokens").between(10, 10000)
      val c2 = c1 && col("lang_pred") === "en"
      val c3 = c2 && col("quality") >= 0.5
      docs.agg(count(lit(1)).as("n0"),
          sum(when(c1, 1L).otherwise(0L)).as("s1"),
          sum(when(c2, 1L).otherwise(0L)).as("s2"),
          sum(when(c3, 1L).otherwise(0L)).as("s3"),
          // distinct on the 8-byte fingerprint, not raw text: the distinct
          // rewrite would otherwise key an aggregate by the full document
          // body (wide Expand + exchange). when() stays OUTSIDE the hash —
          // xxhash64(null) is a defined value, not null, so hashing the
          // when() would count every gated-out row as one extra "text".
          countDistinct(when(c3, xxhash64(col("text")))).as("s4"))
        .select(expr(
          """stack(5,
            |  0L, 'all', n0, 0L,
            |  1L, 'length_band', s1, n0 - s1,
            |  2L, 'lang_en', s2, s1 - s2,
            |  3L, 'quality', s3, s2 - s3,
            |  4L, 'exact_dedup', s4, s3 - s4)
            |  AS (stage, rule, n_surviving, n_dropped)""".stripMargin))
        .orderBy(col("stage"))
    }),

    "q201_rep_aware_sample" -> ((s, dir) => {
      // repetition-aware downsampling: each exact-duplicate family keeps
      // ceil(sqrt(size)) members — the soft-dedup recipe between "keep
      // everything" and q19's "keep one", damping over-represented
      // boilerplate while preserving that it WAS repeated. Survivors are
      // chosen by the portable keyHash draw, so the same docs survive on
      // any engine or cluster layout. The testdata corpus is all-distinct,
      // so duplicate families are planted deterministically (keyHash-selected
      // docs copied under shifted ids: sizes 1, 3 and 6); one window shuffle
      // keyed on the family — the 8-byte fingerprint at scale, the string
      // key here keeps the oracle byte-exact.
      val d  = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
      val h  = pmod(graft.ops.Sampling.keyHash(col("doc_id")), lit(10L))
      def cp(off: Long, cap: Long) = d.filter(h < cap)
        .select((col("doc_id") + off).as("doc_id"), col("text"), col("n_chars"))
      val corpus = d.union(cp(300000L, 4L)).union(cp(400000L, 4L))
        .union(cp(500000L, 2L)).union(cp(600000L, 2L)).union(cp(700000L, 2L))
      val w  = Window.partitionBy(col("text"))
      val wr = w.orderBy(graft.ops.Sampling.keyHash(col("doc_id")), col("doc_id"))
      corpus
        .withColumn("fs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("keep",
          col("rn") <= ceil(sqrt(col("fs").cast("double"))).cast("long"))
        .groupBy(col("text"), col("fs"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(when(col("keep"), col("n_chars"))).as("ck"),
          sum(col("n_chars")).as("ca"))
        .groupBy(col("fs").as("family_size"))
        .agg(count(lit(1)).as("n_families"),
          sum(col("fs")).as("n_docs"),
          sum(col("kept")).as("kept_docs"),
          sum(col("ck")).as("chars_kept"),
          sum(col("ca")).as("chars_total"))
        .orderBy(col("family_size"))
    }),

    "q202_woe_iv" -> ((s, dir) => {
      // weight-of-evidence / information-value feature screening against
      // the return-flag label — the classic scorecard gauge of which
      // features separate returned from kept lines. One stacked pass,
      // one (feature, bin) shuffle of counts only; per-feature totals and
      // the IV sum ride a window over the bounded post-aggregate bin table
      // (<= ~30 rows regardless of input scale). Smoothing +0.5 per bin
      // keeps ln finite on empty cells; woe/iv rounded at 6 dp (cross-
      // engine ln parity holds there on these integer-derived shares).
      val binned = t(s, dir, "lineitem").select(
        (col("l_returnflag") === "R").as("bad"),
        expr("""stack(4,
          |  'quantity_band', concat('q', cast(floor((l_quantity - 1) / 10.0) as string)),
          |  'discount_pct',  concat('d', cast(floor(l_discount * 100 + 0.5) as string)),
          |  'tax_pct',       concat('t', cast(floor(l_tax * 100 + 0.5) as string)),
          |  'price_band',    concat('p', cast(least(floor(l_extendedprice / 20000.0), 4L) as string)))
          |  AS (feature, bin)""".stripMargin))
      val w = Window.partitionBy(col("feature"))
      binned.groupBy(col("feature"), col("bin"))
        .agg(sum(when(!col("bad"), 1L).otherwise(0L)).as("n_good"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
        .withColumn("gs", (col("n_good") + lit(0.5)) / sum(col("n_good")).over(w))
        .withColumn("bs", (col("n_bad") + lit(0.5)) / sum(col("n_bad")).over(w))
        .withColumn("woe_raw", log(col("gs") / col("bs")))
        .withColumn("iv",
          round(sum((col("gs") - col("bs")) * col("woe_raw")).over(w), 6))
        .select(col("feature"), col("bin"), col("n_good"), col("n_bad"),
          round(col("woe_raw"), 6).as("woe"), col("iv"))
        .orderBy(col("feature"), col("bin"))
    }),

    "q203_attribution" -> ((s, dir) => {
      // multi-touch marketing attribution: every purchase credits the
      // non-purchase events ("touches") of the same user in the 7 days up
      // to it — first-touch and last-touch as whole conversions, linear as
      // 1/n split across the path. The conversion-touch pair join is an
      // equi-join on user_id with a range predicate (per-user pair count is
      // bounded by activity, not corpus size); path positions come from
      // windows keyed on the conversion id. Time arithmetic in exact
      // microseconds on both engines.
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("cid"), col("user_id").as("cu"),
          col("us").as("cus"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("tu"), col("event_id").as("tid"),
          col("event_type").as("channel"), col("us").as("tus"))
      val w = Window.partitionBy(col("cid"))
      conv.join(touch, col("cu") === col("tu") &&
          col("tus") <= col("cus") &&
          col("tus") > col("cus") - lit(604800000000L))
        .withColumn("rna", row_number().over(w.orderBy(col("tus"), col("tid"))))
        .withColumn("rnd", row_number().over(
          w.orderBy(col("tus").desc, col("tid").desc)))
        .withColumn("nt", count(lit(1)).over(w))
        .groupBy(col("channel"))
        .agg(sum(when(col("rna") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rnd") === 1, 1L).otherwise(0L)).as("last_touch"),
          round(sum(lit(1.0) / col("nt")), 4).as("linear_credit"),
          count(lit(1)).as("n_touches"))
        .orderBy(col("channel"))
    }),

    "q204_kcore" -> ((s, dir) => {
      // 2-core peeling trajectory of the item-transition graph (q134's
      // edge construction, symmetrized): how much of the graph is load-
      // bearing structure vs fringe chains — the degeneracy audit dense-
      // subgraph miners start from. Six fixed peel rounds, each one degree
      // aggregate + two semi-joins on 8-byte ids, checkpoint-truncated;
      // the oracle replays the rounds unrolled as plain SQL.
      val ev = userItemEvents(s, dir)
      val edges = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("item").isNotNull &&
          col("src") =!= col("item"))
        .select(col("src"), col("item").as("dst"))
      graft.ops.Graph.kCorePeel(edges, k = 2, nRounds = 6)
        .withColumn("converged", col("converged").cast("long"))
    }),

    "q205_bfs_hops" -> ((s, dir) => {
      // BFS hop-distance histogram from the smallest item over the same
      // undirected item graph — 8 rounds of integer min-plus relaxation
      // (Bellman-Ford with unit weights): how tightly the item space is
      // connected, and the reachable-radius profile. State is |V| 16-byte
      // rows, one state-edge join per round.
      val ev = userItemEvents(s, dir)
      val edges = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("item").isNotNull &&
          col("src") =!= col("item"))
        .select(col("src"), col("item").as("dst"))
      graft.ops.Graph.bfsDistances(edges, nRounds = 8)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
    }),

    "q206_peak_concurrency" -> ((s, dir) => {
      // sweep-line peak concurrency: each event opens a 60-second activity
      // interval; per day, the maximum number of simultaneously open
      // intervals. Interval ends sort before starts at the same instant
      // (half-open semantics) via the key encoding t*2+{0 end,1 start};
      // the global running sum is the two-phase PrefixSum — NO single-
      // partition window anywhere, every task bounded by the range-
      // partition size. The classic ops capacity gauge.
      val ev = events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
      val sweep = ev.select((col("us") * 2 + 1).as("key"), lit(1L).as("delta"))
        .unionByName(ev.select(((col("us") + 60000000L) * 2).as("key"),
          lit(-1L).as("delta")))
      val perKey = sweep.groupBy(col("key"))
        .agg(sum(col("delta")).as("d"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).as("starts"))
        .withColumn("g", lit(1))
      PrefixSum.groupedRunningSum(perKey, "g", "key", col("d"), "run")
        .withColumn("day",
          date_format(timestamp_micros(expr("key div 2")), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .agg(max(col("run")).as("peak"), sum(col("starts")).as("n_starts"))
        .orderBy(col("day"))
    }),

    "q207_ewma_forecast" -> ((s, dir) => {
      // exponential-smoothing forecast backtest: per event type, predict
      // each day's total value from the previous 20 calendar days with
      // truncated-EWMA weights (1-a)^age (a=0.3, weights renormalized over
      // the observed window) and score MAE against the naive carry-forward
      // of the last observed day. The window join is bounded (<= 20 prior
      // rows per scored day) and keyed on (type, day) — per-key state never
      // grows with corpus size. The standard "is my smoother better than
      // persistence" capacity-planning gauge.
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("event_type"), expr("us div 86400000000").as("day_num"))
        .agg(sum(col("value")).as("v"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      val scored = daily
        .withColumn("naive", lag(col("v"), 1).over(byType))
        .filter(col("naive").isNotNull)
        .select(col("event_type"), col("day_num").as("d"),
          col("v").as("actual"), col("naive"))
      val prior = daily.select(col("event_type"), col("day_num").as("i"),
        col("v").as("xi"))
      // explode the 20-day lookback into (type, i) equi-join keys: the join
      // is linear (20 rows per scored day), not a per-type day x day cross
      scored.withColumn("i", explode(expr("sequence(d - 20, d - 1)")))
        .join(prior, Seq("event_type", "i"))
        .withColumn("w", pow(lit(0.7), (col("d") - 1 - col("i")).cast("double")))
        .groupBy(col("event_type"), col("d"), col("actual"), col("naive"))
        .agg((sum(col("w") * col("xi")) / sum(col("w"))).as("f"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("f") - col("actual"))), 4).as("mae_ewma"),
          round(avg(abs(col("naive") - col("actual"))), 4).as("mae_naive"))
        .orderBy(col("event_type"))
    }),

    "q208_golden_record" -> ((s, dir) => {
      // MDM survivorship: the same customer arrives from three source
      // systems with conflicting/missing fields (variants planted
      // deterministically by keyHash — sys2 updates the segment but loses
      // name/balance, sys3 updates name/balance but loses the segment);
      // the golden record takes, per FIELD, the newest non-null value
      // (first_value IGNORE NULLS over sys DESC, full-partition frame)
      // plus per-field provenance. One window shuffle on the entity key;
      // output bounded to a deterministic 1-in-20 key sample.
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
      val h = pmod(graft.ops.Sampling.keyHash(col("c_custkey")), lit(10L))
      val v1 = base.select(col("c_custkey"), lit(1L).as("sys"),
        col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val v2 = base.filter(h < 5).select(col("c_custkey"), lit(2L).as("sys"),
        lit(null).cast("string").as("c_name"),
        concat(lit("UPDATED "), col("c_mktsegment")).as("c_mktsegment"),
        lit(null).cast("double").as("c_acctbal"))
      val v3 = base.filter(h < 2).select(col("c_custkey"), lit(3L).as("sys"),
        concat(lit("MERGED "), col("c_name")).as("c_name"),
        lit(null).cast("string").as("c_mktsegment"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
      val w = Window.partitionBy(col("c_custkey")).orderBy(col("sys").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      def newest(c: String) = first(col(c), ignoreNulls = true).over(w)
      def src(c: String) =
        first(when(col(c).isNotNull, col("sys")), ignoreNulls = true).over(w)
      v1.unionByName(v2).unionByName(v3)
        .withColumn("g_name", newest("c_name"))
        .withColumn("g_segment", newest("c_mktsegment"))
        .withColumn("g_acctbal", newest("c_acctbal"))
        .withColumn("name_src", src("c_name"))
        .withColumn("seg_src", src("c_mktsegment"))
        .withColumn("bal_src", src("c_acctbal"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("c_custkey")).orderBy(col("sys").desc)))
        .filter(col("rn") === 1 &&
          pmod(graft.ops.Sampling.keyHash(col("c_custkey")), lit(20L)) === 0)
        .select(col("c_custkey"), col("g_name"), col("g_segment"),
          round(col("g_acctbal"), 2).as("g_acctbal"),
          col("name_src"), col("seg_src"), col("bal_src"))
        .orderBy(col("c_custkey"))
    }),

    "q209_theil_sen" -> ((s, dir) => {
      // robust per-brand revenue trend: Theil-Sen slope (median of all
      // pairwise monthly slopes) next to the OLS slope from the q166
      // closed form — the robust/parametric pair for spike-contaminated
      // series. Monthly cents are EXACT integers, so every pairwise slope
      // is an identical double on any engine and the interpolated median
      // is deterministic; the pair join is per-brand over <= ~84 monthly
      // rows (bounded state, shuffle on the brand key only).
      val monthly = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          ((year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1)
            .cast("long").as("m"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
      val a = monthly.select(col("p_brand"), col("m").as("m1"), col("cents").as("y1"))
      val b = monthly.select(col("p_brand"), col("m").as("m2"), col("cents").as("y2"))
      val ts = a.join(b, Seq("p_brand")).filter(col("m1") < col("m2"))
        .withColumn("slope",
          (col("y2") - col("y1")).cast("double") /
            (col("m2") - col("m1")).cast("double"))
        .groupBy(col("p_brand"))
        .agg(expr("percentile(slope, 0.5)").as("ts_slope"))
      val ols = monthly.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_months"), sum(col("m")).as("sx"),
          sum(col("cents")).as("sy"), sum(col("m") * col("cents")).as("sxy"),
          sum(col("m") * col("m")).as("sxx"))
        .select(col("p_brand"), col("n_months"),
          ((col("n_months") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("ols_raw"))
      ts.join(ols, Seq("p_brand"))
        .select(col("p_brand"), col("n_months"),
          round(col("ts_slope"), 4).as("ts_slope"),
          round(col("ols_raw"), 4).as("ols_slope"))
        .orderBy(col("p_brand"))
    }),

    "q210_copurchase" -> ((s, dir) => {
      // market-basket brand affinity: for every brand pair bought in the
      // same order, support (co-orders) and lift vs independence. The
      // self-join is keyed on the ORDER key, so the pair blow-up is bounded
      // by basket size (<= lines per order), never corpus size; everything
      // after the distinct is counts-only. Lift factors are divided as
      // doubles term-by-term (counts < 2^53 stay exact, no long overflow
      // at any scale).
      val baskets = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
        .materialize  // 4 downstream uses (pair self-join x2, brand counts, total)
      val nOrders = baskets.agg(
        countDistinct(col("ok")).cast("double").as("n_orders"))
      val brandN = baskets.groupBy(col("b")).agg(count(lit(1)).as("n"))
      val pairs = baskets.as("x")
        .join(baskets.as("y"), col("x.ok") === col("y.ok") &&
          col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("b1"), col("y.b").as("b2"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(brandN.select(col("b").as("b1"), col("n").as("n_a"))), "b1")
        .join(broadcast(brandN.select(col("b").as("b2"), col("n").as("n_b"))), "b2")
        .crossJoin(broadcast(nOrders))
        .select(col("b1"), col("b2"), col("n_ab"),
          round(col("n_ab").cast("double") * col("n_orders") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 4)
            .as("lift"))
        .orderBy(col("n_ab").desc, col("b1"), col("b2"))
        .limit(20)
    }),

    "q211_rev_rec" -> ((s, dir) => {
      // deferred revenue recognition: each order's total (exact cents) is
      // recognized over 3 calendar months starting at the order month —
      // cents div 3 per month, the remainder cents landing one-per-month
      // from the first. A 3-way explode then one counts-only aggregate on
      // the month index; integer arithmetic end-to-end so any engine sums
      // to the identical cent.
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
          ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("m0"))
        .withColumn("i", explode(sequence(lit(0L), lit(2L))))
        .select((col("m0") + col("i")).as("month_idx"),
          (expr("cents div 3") +
            when(col("i") < pmod(col("cents"), lit(3L)), lit(1L))
              .otherwise(lit(0L))).as("amt"))
        .groupBy(col("month_idx"))
        .agg(sum(col("amt")).as("recognized_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("month_idx"))
    }),

    "q212_minhash_setsim" -> ((s, dir) => {
      // sketch-accuracy gauge: per event-type pair, the k=64 minwise
      // estimate of user-set Jaccard next to the exact value. Signatures
      // are ONE number per (type, seed) — 64 seeds x |types| rows of
      // state regardless of corpus size — and the exact side self-joins
      // on user_id (each user carries <= |types| rows, so the pair fan-out
      // is bounded per key). The hash is the engine's portable keyHash,
      // seed-mixed additively, so DuckDB reproduces every signature bit.
      val ue = events(s, dir)
        .select(col("event_type").as("et"), col("user_id").as("u"))
        .distinct()
        .materialize  // feeds signatures, per-type counts, and the exact self-join
      val seeds = s.range(64).select(col("id").as("sd"))
      val mh = ue.crossJoin(broadcast(seeds))
        .select(col("et"), col("sd"),
          graft.ops.Sampling.keyHash(col("u") + col("sd") * lit(1000003L))
            .as("h"))
        .groupBy(col("et"), col("sd")).agg(min(col("h")).as("mn"))
        .materialize  // both sides of the signature self-join
      val est = mh.as("a")
        .join(mh.as("b"), col("a.sd") === col("b.sd") &&
          col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("t1"), col("b.et").as("t2"))
        .agg((sum(when(col("a.mn") === col("b.mn"), 1L).otherwise(0L))
          .cast("double") / lit(64.0)).as("est_raw"))
      val cnt = ue.groupBy(col("et")).agg(count(lit(1)).as("n"))
      val inter = ue.as("x")
        .join(ue.as("y"), col("x.u") === col("y.u") &&
          col("x.et") < col("y.et"))
        .groupBy(col("x.et").as("t1"), col("y.et").as("t2"))
        .agg(count(lit(1)).as("n_ab"))
      inter
        .join(broadcast(cnt.select(col("et").as("t1"), col("n").as("n1"))), "t1")
        .join(broadcast(cnt.select(col("et").as("t2"), col("n").as("n2"))), "t2")
        .join(est, Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("n_ab"),
          round(col("n_ab").cast("double") /
            (col("n1") + col("n2") - col("n_ab")).cast("double"), 4)
            .as("exact_jaccard"),
          round(col("est_raw"), 4).as("minhash_est"))
        .orderBy(col("t1"), col("t2"))
    }),

    "q213_ccf" -> ((s, dir) => {
      // cross-correlogram: Pearson correlation between every ordered pair
      // of event-type daily-total series at lags 0..5 (does type A lead
      // type B?). The lag join is an equi-join on the SHIFTED day index —
      // |lags| x |days| x |type-pairs| rows, never corpus-sized — and each
      // correlation is one closed-form aggregate of exact daily sums.
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("event_type"), expr("us div 86400000000").as("d"))
        .agg(sum(col("value")).as("v"))
        .materialize  // both sides of the lag join
      val lags = s.range(6).select(col("id").as("lag_d"))
      val a = daily.select(col("event_type").as("t1"), col("d"), col("v").as("x"))
      val b = daily.select(col("event_type").as("t2"), col("d").as("db"),
        col("v").as("y"))
      a.crossJoin(broadcast(lags))
        .join(b, col("db") === col("d") + col("lag_d"))
        .filter(col("t1") =!= col("t2"))
        .groupBy(col("t1"), col("t2"), col("lag_d"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("t1"), col("t2"), col("lag_d"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r"))
        .orderBy(col("t1"), col("t2"), col("lag_d"))
    }),

    "q214_croston" -> ((s, dir) => {
      // Croston intermittent-demand forecast at the part grain: weekly
      // demand is sparse per part, so the estimate is mean nonzero demand
      // size z over mean inter-demand interval p (= weeks span / n active
      // weeks), next to the dense naive mean. One (part, week) aggregate
      // then one per-part aggregate — bounded state, counts-only shuffles;
      // output a deterministic 1-in-50 key sample.
      val weekly = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"),
          ((year(col("l_shipdate")) - 1992) * 53 + weekofyear(col("l_shipdate")))
            .cast("long").as("wk"))
        .agg(sum(col("l_quantity")).as("q"))
        .materialize  // span scalar + per-part rollup
      val span = weekly.agg((max(col("wk")) - min(col("wk")) + 1)
        .cast("double").as("total_weeks"))
      weekly.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_active"), sum(col("q")).as("total_q"),
          avg(col("q")).as("z"))
        .crossJoin(broadcast(span))
        .select(col("l_partkey"), col("n_active"),
          round(col("z"), 4).as("z"),
          round(col("total_weeks") / col("n_active").cast("double"), 4).as("p"),
          round(col("z") * col("n_active").cast("double") / col("total_weeks"), 4)
            .as("croston_f"),
          round(col("total_q") / col("total_weeks"), 4).as("naive_f"))
        .filter(pmod(graft.ops.Sampling.keyHash(col("l_partkey")), lit(50L)) === 0)
        .orderBy(col("l_partkey"))
    }),

    "q215_skew_audit" -> ((s, dir) => {
      // join-key skew report — the pre-flight for SkewJoin/AQE decisions:
      // for each candidate join key, the per-key count distribution (p50/
      // p99/max), the top-key share, and the salt factor that would level
      // the hottest key to the median task. Two counts-only phases: per-key
      // counts (partial aggs absorb the skew being measured), then one
      // bounded stats row per audited key column.
      def audit(df: DataFrame, key: String): DataFrame = {
        val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        counts.agg(
          count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          expr("CAST(percentile(c, 0.5) AS DOUBLE)").as("p50"),
          expr("CAST(percentile(c, 0.99) AS DOUBLE)").as("p99"),
          max(col("c")).as("max_c"))
          .select(lit(key).as("key_col"), col("n_keys"), col("n_rows"),
            round(col("p50"), 6).as("p50"), round(col("p99"), 6).as("p99"),
            col("max_c"),
            round(col("max_c").cast("double") / col("n_rows").cast("double"), 6)
              .as("top_share"),
            ceil(col("max_c").cast("double") / col("p50")).cast("long")
              .as("salt_factor"))
      }
      val li = t(s, dir, "lineitem")
      audit(li, "l_partkey")
        .unionByName(audit(li, "l_suppkey"))
        .unionByName(audit(t(s, dir, "orders"), "o_custkey"))
        .orderBy(col("key_col"))
    }),

    "q216_seasonal_decompose" -> ((s, dir) => {
      // classical additive decomposition of the daily event-value series:
      // trend = centered 7-day moving average (full windows only),
      // seasonal = day-of-week mean of the detrended series, residual sd
      // per dow. The dow comes from pure epoch-day arithmetic ((d+3)%7,
      // Monday=0) — engine dayofweek() conventions differ, integer math
      // doesn't. The global window runs over the DAILY series (calendar-
      // bounded, ~tens of rows), never over raw events.
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(expr("us div 86400000000").as("d"))
        .agg(sum(col("value")).as("v"))
      val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
      val detr = daily
        .withColumn("trend", avg(col("v")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 7)
        .select(pmod(col("d") + 3, lit(7L)).as("dow"),
          (col("v") - col("trend")).as("detr"))
        .materialize  // dow means + residual pass
      val dowMean = detr.groupBy(col("dow"))
        .agg(avg(col("detr")).as("seasonal"), count(lit(1)).as("n_days"))
      detr.join(broadcast(dowMean), "dow")
        .groupBy(col("dow"))
        .agg(first(col("n_days")).as("n_days"),
          round(first(col("seasonal")), 4).as("seasonal"),
          round(sqrt(avg((col("detr") - col("seasonal")) *
            (col("detr") - col("seasonal")))), 4).as("resid_sd"))
        .orderBy(col("dow"))
    }),

    "q217_jackknife_ci" -> ((s, dir) => {
      // delete-one-bucket jackknife CI for the mean order value: 50
      // deterministic hash buckets, leave-one-out means from (bucket sum,
      // bucket n) against broadcast totals, SE = sqrt((B-1)/B * sum
      // (m_i - mbar)^2). Two counts-only aggregate phases and a broadcast
      // scalar — the resampling classic with zero data re-shuffles, exact
      // cents until the final divisions.
      val b = t(s, dir, "orders")
        .select(pmod(graft.ops.Sampling.keyHash(col("o_orderkey")), lit(50L))
          .as("bk"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy(col("bk"))
        .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
        .materialize  // totals + leave-one-out rows (one orders scan, not two)
      val tot = b.agg(sum(col("s")).as("st"), sum(col("n")).as("nt"),
        count(lit(1)).as("nb"))
      val loo = b.crossJoin(broadcast(tot))
        .select(col("st"), col("nt"), col("nb"),
          ((col("st") - col("s")).cast("double") /
            (col("nt") - col("n")).cast("double")).as("m_i"))
      // centered sum of squares (mbar broadcast back) — the uncentered
      // sq - B*mbar^2 form cancels catastrophically when the loo spread is
      // tiny relative to the mean and flips the 4th decimal across engines
      val mb = loo.agg(avg(col("m_i")).as("mbar"))
      loo.crossJoin(broadcast(mb))
        .groupBy(col("st"), col("nt"), col("nb"))
        .agg(sum((col("m_i") - col("mbar")) * (col("m_i") - col("mbar")))
          .as("ss"))
        .select(col("nt").as("n_orders"),
          round(col("st").cast("double") / col("nt").cast("double") / 100.0, 4)
            .as("mean_value"),
          round(sqrt((col("nb") - 1).cast("double") / col("nb").cast("double") *
            col("ss")) / 100.0, 4)
            .as("jk_se"))
        .select(col("n_orders"), col("mean_value"), col("jk_se"),
          round(col("mean_value") - lit(1.96) * col("jk_se"), 4).as("ci_lo"),
          round(col("mean_value") + lit(1.96) * col("jk_se"), 4).as("ci_hi"))
    }),

    "q218_assortativity" -> ((s, dir) => {
      // degree assortativity of the customer-supplier purchase graph: do
      // high-degree customers buy from high-degree suppliers? Distinct
      // edge list from one join, per-side degree counts, then Pearson r
      // over edge endpoint degrees in ONE closed-form aggregate. Degrees
      // join back by key (broadcast-sized dims at this sf, shuffle joins
      // at scale). Moment sums run in DECIMAL (exact, overflow-safe to
      // 1e38 — the f10 relational scale-up overflowed the long
      // n_edges*sxy product); the n*sxy - sx*sy composition drops to
      // double only at the end, where the rounded correlation absorbs
      // the 1e-16 (at oracle sf everything is < 2^53, so the double
      // composition is still bit-exact vs the integer oracle).
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .materialize  // degree counts x2 + the edge-level join
      val dc = edges.groupBy(col("c")).agg(count(lit(1)).as("dc"))
      val ds = edges.groupBy(col("sp")).agg(count(lit(1)).as("ds"))
      val dcD = col("dc").cast("decimal(18,0)")
      val dsD = col("ds").cast("decimal(18,0)")
      edges.join(dc, "c").join(ds, "sp")
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("c")).as("n_cust"),
          countDistinct(col("sp")).as("n_supp"),
          sum(dcD).as("sx"), sum(dsD).as("sy"),
          sum(dcD * dsD).as("sxy"),
          sum(dcD * dcD).as("sxx"),
          sum(dsD * dsD).as("syy"))
        .select(col("n_edges"), col("n_cust"), col("n_supp"),
          round((col("n_edges") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n_edges") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n_edges") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("assortativity"))
    }),

    "q219_readability" -> ((s, dir) => {
      // Flesch reading-ease profile per language: words as letter runs,
      // sentences as terminal-punctuation marks (clamped >= 1), syllables
      // approximated as vowel groups — every count from
      // regexp_extract_all with an EXPLICIT group 0 (Spark defaults to
      // group 1, DuckDB to 0; the shared dialect is spelled out). One
      // narrow projection then one aggregate per language.
      t(s, dir, "documents")
        .select(col("lang"),
          size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("w"),
          greatest(size(expr("regexp_extract_all(text, '[.!?]', 0)")), lit(1))
            .as("snt"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
            .as("syl"))
        .filter(col("w") > 0)
        .withColumn("flesch",
          lit(206.835) - lit(1.015) * col("w").cast("double") / col("snt").cast("double") -
            lit(84.6) * col("syl").cast("double") / col("w").cast("double"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("w").cast("double") / col("snt").cast("double")), 4)
            .as("words_per_sentence"),
          round(avg(col("syl").cast("double") / col("w").cast("double")), 4)
            .as("syllables_per_word"),
          round(avg(col("flesch")), 4).as("avg_flesch"))
        .orderBy(col("lang"))
    }),

    "q220_price_index" -> ((s, dir) => {
      // Laspeyres price index by ship year: base-year (corpus minimum)
      // part quantities weight each later year's unit prices, index_t =
      // sum(p_t q_0) / sum(p_0 q_0) over parts present in both years.
      // One (part, year) aggregate, the base-year slice joined back by
      // part key, one counts+sums pass per year — no row ever carries
      // more than its own part's state.
      val py = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg((sum(col("l_extendedprice")) / sum(col("l_quantity"))).as("p"),
          sum(col("l_quantity")).as("q"))
        .materialize  // base-year slice + per-year pass (one lineitem scan)
      val y0 = py.agg(min(col("yr")).as("base_yr"))
      val base = py.crossJoin(broadcast(y0))
        .filter(col("yr") === col("base_yr"))
        .select(col("pk"), col("p").as("p0"), col("q").as("q0"))
      py.join(base, "pk")
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("p") * col("q0")) / sum(col("p0") * col("q0")), 4)
            .as("laspeyres"))
        .orderBy(col("yr"))
    }),

    "q221_calendar_anomalies" -> ((s, dir) => {
      // calendar anomaly screen: each day's total scored against its
      // day-of-week baseline (mean/sd over the whole series, portable
      // epoch-day dow arithmetic); top 10 |z| days. The baseline join is
      // 7 broadcast rows; the series is calendar-bounded.
      val daily = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(expr("us div 86400000000").as("d"))
        .agg(sum(col("value")).as("v"))
        .withColumn("dow", pmod(col("d") + 3, lit(7L)))
        .materialize  // baseline aggregate + the scored join
      val base = daily.groupBy(col("dow"))
        .agg(avg(col("v")).as("mu"),
          sqrt(avg(col("v") * col("v")) - avg(col("v")) * avg(col("v")))
            .as("sd"))
      daily.join(broadcast(base), "dow")
        .filter(col("sd") > 0)
        .select(col("d"), col("dow"), round(col("v"), 2).as("v"),
          round((col("v") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy(abs(col("z")).desc, col("d"))
        .limit(10)
    }),

    "q222_late_arrival" -> ((s, dir) => {
      // out-of-orderness profile — the measurement that sizes a streaming
      // watermark: replay each type's events in arrival order (event_id),
      // track the running max timestamp, and score every event's lateness
      // against it. Per-type windows only (bounded by type cardinality,
      // never a global sort); percentile parity with quantile_cont is the
      // established q44 contract.
      val ev = events(s, dir)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // p95 via the two-phase groupedExactPercentiles: lateness has
      // microsecond resolution, so the builtin percentile()'s
      // value→count buffer would grow with EVENTS, not with a bounded
      // domain (contrast q196's day-grain median, which keeps the
      // builtin). The (type, late_s) rows persist for the two passes.
      val late = ev.withColumn("late_s",
          (max(col("us")).over(w) - col("us")).cast("double") / lit(1e6))
        .select(col("event_type"), col("late_s"))
        // lazy localCheckpoint (shared by the p95 ranks + the rollup);
        // blocks free with the result, no CacheManager entry
        .materialize
      val p95 = graft.ops.PrefixSum.groupedExactPercentiles(
        late, "event_type", col("late_s"), Seq(0.95), Seq("p95r"))
      late.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(avg(when(col("late_s") > 0, 1.0).otherwise(0.0)), 4)
            .as("pct_late"),
          round(max(col("late_s")), 4).as("max_late_s"))
        .join(p95, Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("pct_late"),
          round(col("p95r"), 4).as("p95_late_s"), col("max_late_s"))
        .orderBy(col("event_type"))
    }),

    "q223_lsh_planner" -> ((s, dir) => {
      // LSH parameter planner: for each (bands, rows-per-band) config, the
      // s-curve collision probability 1-(1-j^r)^b integrated over the
      // corpus's MEASURED pair-similarity distribution — expected candidate
      // volume vs recall on the high-sim (>= 0.5) stratum. Reuses the exact
      // df-filtered n-gram pair machinery; the grid is 6 broadcast rows, so
      // the whole planner is one counts-only aggregate over pairs x grid.
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "text",
          "doc_id", n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(round(col("jaccard"), 6).as("j"))
      val grid = Seq((4, 4), (8, 4), (8, 8), (16, 4), (16, 8), (32, 4))
        .toDF("bands", "rpb")
      pairs.crossJoin(broadcast(grid))
        .withColumn("p", lit(1.0) -
          pow(lit(1.0) - pow(col("j"), col("rpb").cast("double")),
            col("bands").cast("double")))
        .groupBy(col("bands"), col("rpb"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("p")), 2).as("exp_cands"),
          sum(when(col("j") >= 0.5, 1L).otherwise(0L)).as("n_pairs_05"),
          round(sum(when(col("j") >= 0.5, col("p"))) /
            sum(when(col("j") >= 0.5, 1.0)), 4).as("recall_05"))
        .orderBy(col("bands"), col("rpb"))
    }),

    "q224_encoding_audit" -> ((s, dir) => {
      // storage-layout encodability audit: per column, the distinct ratio
      // (dictionary-encodability) and mean run length in the table's
      // physical sort (RLE-ability), runs counted within each order's
      // line sequence — a per-order window, never a global sort. Counts
      // only; values are compared in their NATIVE type (a string cast
      // would couple the audit to engine float formatting).
      // (l_orderkey, l_linenumber) is NOT unique in this generator — the
      // window order must extend to (partkey, suppkey) to be total, or the
      // run counts become engine-tie-order-dependent
      val li = t(s, dir, "lineitem")
      def audit(c: String): DataFrame = {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col(c).as("v"))
          .withColumn("prev", lag(col("v"), 1).over(w))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("v")).as("n_distinct"),
            sum(when(col("prev").isNull || col("prev") =!= col("v"), 1L)
              .otherwise(0L)).as("n_runs"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_distinct"),
            round(col("n_distinct").cast("double") / col("n_rows").cast("double"), 6)
              .as("distinct_ratio"),
            round(col("n_rows").cast("double") / col("n_runs").cast("double"), 4)
              .as("avg_run_len"))
      }
      audit("l_returnflag").unionByName(audit("l_linestatus"))
        .unionByName(audit("l_quantity")).unionByName(audit("l_partkey"))
        .orderBy(col("column_name"))
    }),

    "q225_dedup_threshold_curve" -> ((s, dir) => {
      // dedup operating curve: how many candidate pairs and distinct
      // member docs survive each similarity threshold — the table you read
      // before committing a cluster-merge cutoff. Pair-bounded counts only
      // (the pair set is the df-filtered n-gram join, never O(n^2)).
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "text",
          "doc_id", n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("j"))
        .materialize  // one pair generation, six threshold slices
      val grid = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8).toDF("thresh")
      val st = pairs.crossJoin(broadcast(grid)).filter(col("j") >= col("thresh"))
      val np = st.groupBy(col("thresh")).agg(count(lit(1)).as("n_pairs"))
      val nd = st.select(col("thresh"),
          explode(array(col("idA"), col("idB"))).as("id"))
        .groupBy(col("thresh")).agg(countDistinct(col("id")).as("n_docs"))
      np.join(nd, "thresh").orderBy(col("thresh"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q151_decayed_engagement" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT max(t) AS t_ref FROM p),
        |a AS (SELECT user_id,
        |    round(sum(value * exp(-(r.t_ref - t) / 604800000000.0)), 4)
        |      AS decayed_sum,
        |    count(*) AS n_events
        |  FROM p CROSS JOIN r GROUP BY user_id)
        |SELECT * FROM (SELECT user_id, decayed_sum, n_events,
        |    CAST(row_number() OVER (ORDER BY decayed_sum DESC, user_id)
        |      AS BIGINT) AS rank FROM a)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q152_mutual_info" ->
      """WITH joint AS (SELECT lang AS a, source AS b, count(*) AS n_ab
        |  FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM joint
        |  GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM joint
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM joint),
        |ha AS (SELECT -sum((n_a * 1.0 / n) * ln(n_a * 1.0 / n)) AS h_a
        |  FROM ma CROSS JOIN tot),
        |hb AS (SELECT -sum((n_b * 1.0 / n) * ln(n_b * 1.0 / n)) AS h_b
        |  FROM mb CROSS JOIN tot),
        |mi AS (SELECT sum((j.n_ab * 1.0 / t.n) *
        |    ln((j.n_ab * 1.0 / t.n) /
        |       ((ma.n_a * 1.0 / t.n) * (mb.n_b * 1.0 / t.n)))) AS mi
        |  FROM joint j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot t)
        |SELECT round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
        |  round(mi, 6) AS mi,
        |  round(mi / sqrt(h_a * h_b), 6) AS nmi
        |FROM ha CROSS JOIN hb CROSS JOIN mi""".stripMargin,

    "q153_triangles" ->
      s"""WITH $ngramPairsCtes,
         |e AS (SELECT idA AS a, idB AS b FROM pairs),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM e e1
         |  JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |m AS (SELECT node, count(*) AS n_triangles FROM (
         |    SELECT unnest([u, v, w]) AS node FROM tri) GROUP BY node)
         |SELECT node AS doc_id, n_triangles, rank FROM (
         |  SELECT node, n_triangles, CAST(row_number() OVER (
         |    ORDER BY n_triangles DESC, node) AS BIGINT) AS rank FROM m)
         |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q154_event_trigrams" ->
      """WITH runs AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |counts AS (SELECT e1, e2, e3, count(*) AS cnt FROM runs
        |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
        |SELECT e1, e2, e3, cnt, share, rank FROM (
        |  SELECT c.e1, c.e2, c.e3, c.cnt,
        |    round(c.cnt * 1.0 / t.total, 6) AS share,
        |    CAST(row_number() OVER (ORDER BY c.cnt DESC, c.e1, c.e2, c.e3)
        |      AS BIGINT) AS rank
        |  FROM counts c CROSS JOIN tot t)
        |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q155_winsorized" ->
      """WITH cuts AS (SELECT event_type,
        |    quantile_cont(value, 0.1) AS lo, quantile_cont(value, 0.9) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(e.value) AS n,
        |  round(avg(e.value), 4) AS mean,
        |  round(avg(greatest(least(e.value, c.hi), c.lo)), 4) AS wins_mean,
        |  round(avg(CASE WHEN e.value BETWEEN c.lo AND c.hi
        |    THEN e.value END), 4) AS trim_mean,
        |  CAST(sum(CASE WHEN e.value BETWEEN c.lo AND c.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS trim_n,
        |  round(max(c.lo), 4) AS p_lo, round(max(c.hi), 4) AS p_hi
        |FROM events e JOIN cuts c USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q156_benford" ->
      """WITH c AS (SELECT event_type AS key,
        |    CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS BIGINT) AS digit,
        |    count(*) AS n_d
        |  FROM events WHERE value >= 1 GROUP BY 1, 2),
        |tot AS (SELECT key, CAST(sum(n_d) AS BIGINT) AS n FROM c GROUP BY 1),
        |grid AS (SELECT t.key, t.n, g.digit FROM tot t,
        |  (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit) g)
        |SELECT g.key AS event_type, g.digit,
        |  coalesce(c.n_d, 0) AS n_d,
        |  round(coalesce(c.n_d, 0) * 1.0 / g.n, 6) AS obs_share,
        |  round(ln(1.0 + 1.0 / g.digit) / ln(10.0), 6) AS benford_p,
        |  round(pow(coalesce(c.n_d, 0) - g.n * (ln(1.0 + 1.0 / g.digit)
        |      / ln(10.0)), 2)
        |    / (g.n * (ln(1.0 + 1.0 / g.digit) / ln(10.0))), 6) AS chi2_term
        |FROM grid g LEFT JOIN c ON g.key = c.key AND g.digit = c.digit
        |ORDER BY event_type, g.digit""".stripMargin,

    "q157_jaro_winkler_er" ->
      """WITH names AS (SELECT DISTINCT p_name,
        |    split_part(p_name, ' ', 1) AS blk FROM part),
        |pairs AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |  FROM names a JOIN names b
        |    ON a.blk = b.blk AND a.p_name < b.p_name)
        |SELECT name_a, name_b, jw, rank FROM (
        |  SELECT name_a, name_b, jw, CAST(row_number() OVER (
        |    ORDER BY jw DESC, name_a, name_b) AS BIGINT) AS rank
        |  FROM pairs WHERE jw >= 0.85)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q158_source_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, t.tok
         |  FROM (SELECT source, $ntoksSql AS ntoks FROM documents),
         |    unnest(ntoks) AS t(tok)),
         |sizes AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS i
         |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, i.i,
         |  round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON i.src_a = sa.source
         |JOIN sizes sb ON i.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,

    "q159_hits" ->
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |sq AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |e AS (SELECT DISTINCT src, item AS dst FROM sq
         |  WHERE src IS NOT NULL AND src <> item),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |a1r AS (SELECT dst AS node, CAST(count(*) AS DOUBLE) AS auth
         |  FROM e GROUP BY dst),
         |a1n AS (SELECT node, auth / (SELECT sqrt(sum(auth * auth)) FROM a1r)
         |    AS auth FROM a1r),
         |h1r AS (SELECT e.src AS node, sum(a.auth) AS hub
         |  FROM e JOIN a1n a ON e.dst = a.node GROUP BY e.src),
         |h1n AS (SELECT node, hub / (SELECT sqrt(sum(hub * hub)) FROM h1r)
         |    AS hub FROM h1r),
         |a2r AS (SELECT e.dst AS node, sum(h.hub) AS auth
         |  FROM e JOIN h1n h ON e.src = h.node GROUP BY e.dst),
         |a2n AS (SELECT node, auth / (SELECT sqrt(sum(auth * auth)) FROM a2r)
         |    AS auth FROM a2r),
         |h2r AS (SELECT e.src AS node, sum(a.auth) AS hub
         |  FROM e JOIN a2n a ON e.dst = a.node GROUP BY e.src),
         |h2n AS (SELECT node, hub / (SELECT sqrt(sum(hub * hub)) FROM h2r)
         |    AS hub FROM h2r),
         |fin AS (SELECT n.node, round(coalesce(a.auth, 0), 6) AS auth,
         |    round(coalesce(h.hub, 0), 6) AS hub
         |  FROM nodes n
         |  LEFT JOIN a2n a ON n.node = a.node
         |  LEFT JOIN h2n h ON n.node = h.node)
         |SELECT node, auth, hub, rank FROM (
         |  SELECT node, auth, hub, CAST(row_number() OVER (
         |    ORDER BY auth DESC, node) AS BIGINT) AS rank FROM fin)
         |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q160_source_calibration" ->
      s"""${qualityCteSql(", source")},
         |r AS (SELECT doc_id, source, quality,
         |    percent_rank() OVER (ORDER BY quality, doc_id) AS pr FROM q)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(quality), 6) AS avg_quality,
         |  round(avg(pr), 6) AS avg_pctile,
         |  round(min(pr), 6) AS min_pctile,
         |  round(max(pr), 6) AS max_pctile
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q161_rbo" ->
      s"""WITH ${bm25Ctes(
             "(1, 'spark window agg'), (2, 'vector scan batch'), (3, 'customer stream query')")},
         |bm AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |        CAST(rank AS BIGINT) AS ra
         |       FROM ranked WHERE rank <= 10),
         |e AS (SELECT vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |        CASE WHEN sqrt(list_dot_product(q.v, q.v)) *
         |                  sqrt(list_dot_product(c.v, c.v)) = 0 THEN 0.0
         |             ELSE list_dot_product(q.v, c.v) /
         |               (sqrt(list_dot_product(q.v, q.v)) *
         |                sqrt(list_dot_product(c.v, c.v))) END AS cosine
         |       FROM e q JOIN e c
         |         ON q.vec_id IN (1, 2, 3) AND q.vec_id <> c.vec_id),
         |cr AS (SELECT query_id, doc_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cosine DESC, doc_id) AS rank FROM cs),
         |sem AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |        CAST(rank AS BIGINT) AS rb FROM cr WHERE rank <= 10),
         |sfx AS (SELECT d, sum(0.1 * pow(0.9, d - 1) / d) OVER (
         |        ORDER BY d DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suf
         |      FROM (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
         |              AS d)),
         |common AS (SELECT b.query_id, count(*) AS n_common,
         |        sum(s.suf) AS rbo
         |      FROM bm b JOIN sem m
         |        ON b.query_id = m.query_id AND b.doc_id = m.doc_id
         |      JOIN sfx s ON s.d = greatest(b.ra, m.rb)
         |      GROUP BY 1),
         |ql AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS query_id)
         |SELECT q.query_id, coalesce(c.n_common, 0) AS n_common,
         |  round(coalesce(c.rbo, 0), 6) AS rbo
         |FROM ql q LEFT JOIN common c ON q.query_id = c.query_id
         |ORDER BY q.query_id""".stripMargin,

    "q162_pareto_frontier" ->
      s"""${qualityCteSql("")},
         |pts AS (SELECT quality AS x, ntok AS y, min(doc_id) AS min_id,
         |    count(*) AS n_rows FROM q GROUP BY 1, 2),
         |f AS (SELECT *, max(y) OVER (ORDER BY x DESC, y DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM pts)
         |SELECT round(x, 6) AS quality, y AS ntok, min_id AS min_doc,
         |  n_rows AS n_docs
         |FROM f WHERE pm IS NULL OR pm < y
         |ORDER BY quality DESC, ntok DESC, min_doc""".stripMargin,

    "q163_markov_predict" ->
      """WITH s0 AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sq AS (SELECT *, rn <= floor(cnt * 0.8) AS is_train FROM s0
        |  WHERE prev IS NOT NULL),
        |model AS (SELECT prev, event_type AS next, count(*) AS c
        |  FROM sq WHERE is_train GROUP BY 1, 2),
        |pred AS (SELECT prev, next AS pred_next FROM (
        |  SELECT prev, next, row_number() OVER (PARTITION BY prev
        |    ORDER BY c DESC, next) AS r FROM model) WHERE r = 1),
        |trn AS (SELECT prev, CAST(sum(c) AS BIGINT) AS n_train FROM model
        |  GROUP BY 1)
        |SELECT sq.prev AS prev_type, p.pred_next, t.n_train,
        |  count(*) AS n_test,
        |  CAST(sum(CASE WHEN sq.event_type = p.pred_next THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(sum(CASE WHEN sq.event_type = p.pred_next THEN 1 ELSE 0 END)
        |    * 1.0 / count(*), 6) AS accuracy
        |FROM sq JOIN pred p ON sq.prev = p.prev
        |JOIN trn t ON sq.prev = t.prev
        |WHERE NOT sq.is_train
        |GROUP BY 1, 2, 3 ORDER BY prev_type""".stripMargin,

    "q164_tfidf_pairs" ->
      """WITH docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, substr(text, 21) FROM documents),
        |tok AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        |  FROM docs),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |nn AS (SELECT count(*) AS n FROM docs),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
        |  HAVING count(*) BETWEEN 2 AND 400),
        |w AS (SELECT t.term, t.doc_id, t.tf * ln(nn.n * 1.0 / d.df) AS w
        |  FROM tf t JOIN dft d USING (term) CROSS JOIN nn),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
        |dots AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
        |    sum(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT idA, idB,
        |    round(dot / (na.norm * nb.norm), 6) AS cosine
        |  FROM dots JOIN norms na ON idA = na.doc_id
        |  JOIN norms nb ON idB = nb.doc_id)
        |SELECT idA, idB, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    ORDER BY cosine DESC, idA, idB) AS BIGINT) AS rank
        |  FROM p WHERE cosine >= 0.5)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q165_entropy_rate" ->
      """WITH sq AS (SELECT event_type AS next,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT prev, next, count(*) AS c FROM sq
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tr),
        |pt AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cp FROM tr GROUP BY 1),
        |nt AS (SELECT next, CAST(sum(c) AS BIGINT) AS cn FROM tr GROUP BY 1),
        |hc AS (SELECT -sum((t.c * 1.0 / o.n) * ln(t.c * 1.0 / p.cp))
        |    AS h_cond
        |  FROM tr t JOIN pt p USING (prev) CROSS JOIN tot o),
        |hn AS (SELECT -sum((cn * 1.0 / o.n) * ln(cn * 1.0 / o.n)) AS h_next
        |  FROM nt CROSS JOIN tot o)
        |SELECT round(h_next, 6) AS h_next, round(h_cond, 6) AS h_cond,
        |  round(h_next - h_cond, 6) AS info_gain
        |FROM hn CROSS JOIN hc""".stripMargin,

    "q166_trend_slopes" ->
      """WITH t0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
        |b AS (SELECT event_type,
        |    (epoch_us(ts) - t0.t0) / 86400000000.0 AS x, value AS y
        |  FROM events CROSS JOIN t0),
        |a AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n,
        |    6) AS intercept
        |FROM a ORDER BY event_type""".stripMargin,

    "q167_correlations" ->
      """WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
        |    CAST(l_extendedprice AS DOUBLE) AS p,
        |    CAST(l_discount AS DOUBLE) AS d FROM lineitem),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d,
        |    sum(q * q) AS s_q_q, sum(p * p) AS s_p_p, sum(d * d) AS s_d_d,
        |    sum(q * p) AS s_q_p, sum(q * d) AS s_q_d, sum(p * d) AS s_p_d
        |  FROM b)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((n * s_q_p - s_q * s_p) /
        |    sqrt((n * s_q_q - s_q * s_q) * (n * s_p_p - s_p * s_p)), 6)
        |    AS r_qty_price,
        |  round((n * s_q_d - s_q * s_d) /
        |    sqrt((n * s_q_q - s_q * s_q) * (n * s_d_d - s_d * s_d)), 6)
        |    AS r_qty_disc,
        |  round((n * s_p_d - s_p * s_d) /
        |    sqrt((n * s_p_p - s_p * s_p) * (n * s_d_d - s_d * s_d)), 6)
        |    AS r_price_disc
        |FROM a""".stripMargin,

    "q168_ks_test" ->
      s"""${qualityCteSql(", lang")},
         |pts AS (SELECT quality AS v,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ca,
         |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cb
         |  FROM q GROUP BY 1),
         |cumc AS (SELECT v, sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
         |  FROM pts WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |totk AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         |gapg AS (SELECT t.na, t.nb, cumc.v,
         |    round(abs(cum_a * 1.0 / t.na - cum_b * 1.0 / t.nb), 6) AS gap
         |  FROM cumc CROSS JOIN totk t),
         |ksm AS (SELECT na, nb, max(gap) AS ks FROM gapg GROUP BY 1, 2),
         |ksa AS (SELECT round(min(v), 6) AS ks_at FROM gapg JOIN ksm
         |  ON gapg.gap = ksm.ks)
         |SELECT na, nb, ks, ks_at FROM ksm CROSS JOIN ksa""".stripMargin,

    "q169_auc" ->
      s"""WITH $lrCtes,
         |pts AS (SELECT p,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cpos,
         |    count(*) AS ctot FROM scored GROUP BY 1),
         |c AS (SELECT p, cpos, ctot, sum(ctot) OVER (ORDER BY p
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t
         |  FROM pts),
         |rs AS (SELECT sum(cpos * (cum_t - (ctot - 1) / 2.0)) AS rank_sum
         |  FROM c),
         |tot AS (SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
         |    CAST(sum(ctot) - sum(cpos) AS BIGINT) AS n_neg FROM pts)
         |SELECT n_pos, n_neg,
         |  round((rank_sum - n_pos * (n_pos + 1) / 2.0) /
         |    (n_pos * 1.0 * n_neg), 6) AS auc
         |FROM rs CROSS JOIN tot""".stripMargin,

    "q170_gini" ->
      """WITH t AS (SELECT user_id, sum(value) AS t FROM events GROUP BY 1),
        |r AS (SELECT user_id, t, CAST(row_number() OVER (
        |    ORDER BY t, user_id) AS BIGINT) AS rk FROM t),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users, sum(t) AS total
        |  FROM t)
        |SELECT n.n_users, round(n.total, 4) AS total,
        |  round(2.0 * sum(r.rk * r.t) / (n.n_users * n.total)
        |    - (n.n_users + 1) * 1.0 / n.n_users, 6) AS gini,
        |  round(sum(CASE WHEN r.rk > n.n_users * 0.9 THEN r.t ELSE 0 END)
        |    / n.total, 6) AS top_decile_share
        |FROM r CROSS JOIN n GROUP BY n.n_users, n.total""".stripMargin,

    "q171_window_gallery" -> windowGallerySql,

    "q172_equidepth_hist" ->
      """WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |e AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
        |    0.8, 0.9]) AS edges FROM b)
        |SELECT bucket, count(*) AS n, round(min(v), 4) AS min_v,
        |  round(max(v), 4) AS max_v
        |FROM (SELECT b.v, CAST(len(list_filter(e.edges, x -> b.v > x))
        |    AS BIGINT) AS bucket
        |  FROM b CROSS JOIN e)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q173_vocab_drift" ->
      s"""WITH norm AS (SELECT doc_id % 2 = 0 AS is_p, t.tok
         |  FROM (SELECT doc_id, $ntoksSql AS ntoks FROM documents),
         |    unnest(ntoks) AS t(tok)),
         |counts AS (SELECT tok,
         |    CAST(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS cq
         |  FROM norm GROUP BY 1),
         |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cq) AS BIGINT) AS nq, count(*) AS v FROM counts),
         |sc AS (SELECT c.tok, c.cp, c.cq,
         |    (c.cp + 1) * 1.0 / (t.np + t.v) AS p,
         |    (c.cq + 1) * 1.0 / (t.nq + t.v) AS q
         |  FROM counts c CROSS JOIN tot t),
         |kl AS (SELECT round(sum(p * ln(p / q)), 6) AS kl_total FROM sc),
         |r AS (SELECT tok, cp, cq, round(p * ln(p / q), 8) AS contrib,
         |    CAST(row_number() OVER (ORDER BY round(p * ln(p / q), 8) DESC,
         |      tok) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT rank, tok, cp, cq, contrib, kl_total
         |FROM r CROSS JOIN kl WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q174_audio_decode" ->
      """SELECT CAST(30 AS BIGINT) AS n_payloads, CAST(24 AS BIGINT) AS n_real,
        |  CAST(24 AS BIGINT) AS n_rate_ok, CAST(24 AS BIGINT) AS n_dur_ok,
        |  CAST(24 AS BIGINT) AS n_rms_ok,
        |  CAST(6 AS BIGINT) AS n_fake_flagged""".stripMargin,

    "q175_acf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y
        |  FROM events GROUP BY 1),
        |ix AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |    y FROM daily),
        |st AS (SELECT sum(y) / count(*) AS mu,
        |    sum(y * y) - sum(y) * sum(y) / count(*) AS denom FROM ix),
        |lg AS (SELECT unnest([1, 2, 3]) AS lag),
        |pr AS (SELECT l.lag, a.y AS y, b.y AS y_lag
        |  FROM ix a CROSS JOIN lg l JOIN ix b ON a.i = b.i + l.lag)
        |SELECT p.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(sum((p.y - st.mu) * (p.y_lag - st.mu)) / min(st.denom), 6)
        |    AS acf
        |FROM pr p CROSS JOIN st GROUP BY 1 ORDER BY 1""".stripMargin,

    "q176_cusum" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ix AS (SELECT day, cents,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |    CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum_cents
        |  FROM daily),
        |st AS (SELECT CAST(sum(cents) AS DOUBLE) AS tot,
        |    CAST(count(*) AS DOUBLE) AS n FROM daily),
        |sc AS (SELECT day, i AS day_idx,
        |    CAST(cum_cents AS DOUBLE) / 100.0 -
        |      CAST(i AS DOUBLE) * (tot / 100.0) / n AS s
        |  FROM ix CROSS JOIN st)
        |SELECT CAST(day AS VARCHAR) AS day, day_idx,
        |  round(abs(s), 4) AS abs_cusum, round(s, 4) AS cusum
        |FROM sc ORDER BY abs_cusum DESC, day LIMIT 1""".stripMargin,

    "q177_kaplan_meier" ->
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
        |ev AS (SELECT dur, n_risk, d_events FROM risk
        |  WHERE d_events > 0 AND n_risk > d_events)
        |SELECT dur AS duration_days, n_risk, d_events,
        |  round(exp(sum(ln(CAST(n_risk - d_events AS DOUBLE) /
        |    CAST(n_risk AS DOUBLE))) OVER (ORDER BY dur)), 6) AS survival
        |FROM ev ORDER BY duration_days""".stripMargin,

    "q178_rfm" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate), min(mx.mx)) AS BIGINT)
        |      AS recency,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM cust),
        |rk AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY recency, o_custkey) AS BIGINT)
        |      AS rr,
        |    CAST(row_number() OVER (ORDER BY freq DESC, o_custkey)
        |      AS BIGINT) AS fr,
        |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
        |      AS BIGINT) AS mr
        |  FROM cust),
        |qs AS (SELECT cents,
        |    1 + (rr - 1) * 5 // n_cust AS r_q,
        |    1 + (fr - 1) * 5 // n_cust AS f_q,
        |    1 + (mr - 1) * 5 // n_cust AS m_q
        |  FROM rk CROSS JOIN tot)
        |SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS monetary_total
        |FROM qs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q179_two_proportion" ->
      """WITH b AS (SELECT c_mktsegment = 'BUILDING' AS is_a,
        |    o_totalprice > 150000 AS hit
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN is_a AND hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_a,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN NOT is_a AND hit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_b
        |  FROM b)
        |SELECT n_a, x_a, n_b, x_b,
        |  round(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
        |  round(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
        |  round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
        |    sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0 / n_a + 1.0 / n_b)), 4) AS z
        |FROM a""".stripMargin,

    "q180_simpson" ->
      """WITH b AS (SELECT o_orderpriority AS stratum,
        |    c_mktsegment = 'BUILDING' AS is_a,
        |    o_totalprice > 150000 AS hit
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |per AS (SELECT stratum,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN is_a AND hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_a,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN NOT is_a AND hit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_b
        |  FROM b GROUP BY 1),
        |allrows AS (SELECT stratum, n_a, x_a, n_b, x_b FROM per
        |  UNION ALL
        |  SELECT 'ALL', CAST(sum(n_a) AS BIGINT), CAST(sum(x_a) AS BIGINT),
        |    CAST(sum(n_b) AS BIGINT), CAST(sum(x_b) AS BIGINT) FROM per)
        |SELECT stratum, n_a, x_a, n_b, x_b,
        |  round(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  CAST(x_a AS HUGEINT) * CAST(n_b AS HUGEINT) >
        |    CAST(x_b AS HUGEINT) * CAST(n_a AS HUGEINT) AS a_leads
        |FROM allrows ORDER BY stratum""".stripMargin,

    "q181_snm_blocking" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |ix AS (SELECT p_name,
        |    CAST(row_number() OVER (ORDER BY p_name) AS BIGINT) AS i
        |  FROM names),
        |off AS (SELECT unnest([1, 2]) AS off),
        |pr AS (SELECT a.p_name AS name_a, b.p_name AS name_b
        |  FROM ix a CROSS JOIN off o JOIN ix b ON b.i = a.i + o.off),
        |sc AS (SELECT name_a, name_b,
        |    round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
        |  FROM pr),
        |m AS (SELECT *, CAST(row_number() OVER (
        |    ORDER BY jw DESC, name_a, name_b) AS BIGINT) AS rank
        |  FROM sc WHERE jw >= 0.88)
        |SELECT name_a, name_b, jw, rank FROM m
        |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q182_weekday_chi2" ->
      """WITH d AS (SELECT
        |    CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |      AS BIGINT) % 7 AS dow_idx
        |  FROM orders),
        |g AS (SELECT dow_idx, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS n FROM g)
        |SELECT dow_idx, n_orders, round(n / 7.0, 2) AS expected,
        |  round(pow(CAST(n_orders AS DOUBLE) - n / 7.0, 2) / (n / 7.0), 4)
        |    AS chi2_term
        |FROM g CROSS JOIN tot ORDER BY dow_idx""".stripMargin,

    "q183_fk_integrity" ->
      """SELECT 'customer.nation' AS fk_edge,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |     WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |    AS n_orphans
        |UNION ALL SELECT 'lineitem.orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |UNION ALL SELECT 'lineitem.part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL SELECT 'lineitem.supplier',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL SELECT 'orders.customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |UNION ALL SELECT 'supplier.nation',
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
        |     WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |ORDER BY fk_edge""".stripMargin,

    "q184_burst_days" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |r AS (SELECT day, c,
        |    count(c) OVER w AS n_win,
        |    sum(c) OVER w AS s1,
        |    sum(c * c) OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING
        |    AND 1 PRECEDING)),
        |st AS (SELECT day, c, n_win,
        |    CAST(s1 AS DOUBLE) / n_win AS mu,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_win) / n_win
        |      AS var
        |  FROM r WHERE n_win >= 14),
        |z AS (SELECT day, c,
        |    round(mu, 4) AS mu_28,
        |    round((CAST(c AS DOUBLE) - mu) / sqrt(var), 4) AS z
        |  FROM st WHERE var > 0),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY z DESC, day)
        |    AS BIGINT) AS rank FROM z)
        |SELECT CAST(day AS VARCHAR) AS day, c AS n_events, mu_28, z, rank
        |FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q185_sentence_stats" ->
      """WITH frags AS (SELECT doc_id, lang,
        |    trim(unnest(string_split_regex(text, '[.!?]+'))) AS frag
        |  FROM documents),
        |keep AS (SELECT doc_id, lang, frag,
        |    CAST(len(string_split_regex(frag, '\s+')) AS BIGINT) AS n_words
        |  FROM frags WHERE length(frag) > 0),
        |per AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_sent,
        |    CAST(sum(n_words) AS BIGINT) AS n_words
        |  FROM keep GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(n_sent) AS DOUBLE) / count(*), 4) AS avg_sentences,
        |  round(CAST(sum(n_words) AS DOUBLE) / sum(n_sent), 4)
        |    AS words_per_sentence
        |FROM per GROUP BY 1 ORDER BY lang""".stripMargin,

    "q186_yoy_growth" ->
      """WITH yearly AS (SELECT
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT a.yr, a.n_orders,
        |  round(CAST(a.cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(a.cents - b.cents AS DOUBLE) /
        |    CAST(b.cents AS DOUBLE) * 100.0, 4) AS yoy_pct
        |FROM yearly a LEFT JOIN yearly b ON a.yr = b.yr + 1
        |ORDER BY a.yr""".stripMargin,

    "q187_stickiness" ->
      """WITH ev AS (SELECT strftime(ts, '%Y-%m') AS month,
        |    CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT month, n_days, dau_sum FROM (
        |  SELECT month, CAST(count(*) AS BIGINT) AS n_days,
        |      CAST(sum(dau) AS BIGINT) AS dau_sum
        |    FROM (SELECT month, day, CAST(count(DISTINCT user_id) AS BIGINT)
        |        AS dau FROM ev GROUP BY 1, 2)
        |    GROUP BY 1)),
        |mau AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM ev GROUP BY 1)
        |SELECT d.month, d.n_days, m.mau,
        |  round(CAST(d.dau_sum AS DOUBLE) / d.n_days, 4) AS avg_dau,
        |  round(CAST(d.dau_sum AS DOUBLE) / d.n_days / m.mau, 4)
        |    AS stickiness
        |FROM dau d JOIN mau m USING (month) ORDER BY month""".stripMargin,

    "q188_weighted_quantiles" ->
      """WITH pts AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cw
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT cents, CAST(sum(cw) OVER (ORDER BY cents) AS BIGINT)
        |    AS cum_w FROM pts),
        |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS tw FROM pts),
        |qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |    ('p99', 99, 100)) AS v(q_label, num, den)),
        |thr AS (SELECT q_label, (tw * num + den - 1) // den AS thr
        |  FROM qs CROSS JOIN tot)
        |SELECT q_label,
        |  round(CAST(min(cents) AS DOUBLE) / 100.0, 2) AS weighted_price
        |FROM cum CROSS JOIN thr WHERE cum_w >= thr
        |GROUP BY 1 ORDER BY q_label""".stripMargin,

    "q189_zipf_slope" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(text),
        |      '[^a-z0-9]+')) AS tokn FROM documents),
        |tc AS (SELECT tokn, CAST(count(*) AS BIGINT) AS freq FROM tok
        |  WHERE tokn <> '' GROUP BY 1),
        |rk AS (SELECT freq, CAST(row_number() OVER (
        |    ORDER BY freq DESC, tokn) AS BIGINT) AS rank FROM tc),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y FROM rk WHERE rank <= 1000),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS zipf_slope,
        |  round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n,
        |    6) AS intercept
        |FROM a""".stripMargin,

    "q190_ngram_novelty" ->
      s"""WITH norm AS (SELECT doc_id, $ntoksSql AS ntoks FROM documents),
        |grams AS (SELECT doc_id % 2 = 0 AS is_train,
        |    unnest(list_distinct(CASE WHEN len(ntoks) < 5 THEN []
        |      ELSE list_transform(range(len(ntoks) - 4),
        |        i -> ntoks[i+1] || ' ' || ntoks[i+2] || ' ' || ntoks[i+3]
        |          || ' ' || ntoks[i+4] || ' ' || ntoks[i+5]) END)) AS g
        |  FROM norm),
        |side AS (SELECT DISTINCT is_train, g FROM grams),
        |fl AS (SELECT g,
        |    max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
        |    max(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS in_test
        |  FROM side GROUP BY 1),
        |a AS (SELECT CAST(sum(in_train) AS BIGINT) AS n_train_grams,
        |    CAST(sum(in_test) AS BIGINT) AS n_test_grams,
        |    CAST(sum(CASE WHEN in_test = 1 AND in_train = 0 THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_novel
        |  FROM fl)
        |SELECT n_train_grams, n_test_grams, n_novel,
        |  round(CAST(n_novel AS DOUBLE) / n_test_grams, 6) AS novelty_rate
        |FROM a""".stripMargin,

    "q191_template_coverage" ->
      s"""WITH norm AS (SELECT doc_id, $ntoksSql AS ntoks FROM documents),
        |grams AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id,
        |    unnest(list_distinct(CASE WHEN len(ntoks) < 5 THEN []
        |      ELSE list_transform(range(len(ntoks) - 4),
        |        i -> ntoks[i+1] || ' ' || ntoks[i+2] || ' ' || ntoks[i+3]
        |          || ' ' || ntoks[i+4] || ' ' || ntoks[i+5]) END)) AS g
        |  FROM norm)),
        |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM grams
        |  GROUP BY 1),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_boiler
        |  FROM grams JOIN df USING (g) GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN CAST(n_boiler AS DOUBLE) / n_grams >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(n_boiler) AS BIGINT) AS n_boiler_hits,
        |  round(sum(CAST(n_boiler AS DOUBLE) / n_grams) / count(*), 6)
        |    AS avg_coverage
        |FROM cov""".stripMargin,

    "q192_price_elasticity" ->
      """WITH b AS (SELECT p_brand,
        |    ln(CAST(l_quantity AS DOUBLE)) AS y,
        |    ln(l_extendedprice / l_quantity) AS x
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity > 0 AND l_extendedprice / l_quantity > 0),
        |a AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx
        |  FROM b GROUP BY 1)
        |SELECT p_brand, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS elasticity
        |FROM a ORDER BY p_brand""".stripMargin,

    "q193_hhi_concentration" ->
      """WITH bys AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |sn AS (SELECT s_nationkey, cents FROM bys
        |  JOIN supplier ON l_suppkey = s_suppkey),
        |byn AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    CAST(sum(cents) AS BIGINT) AS tot FROM sn GROUP BY 1),
        |h AS (SELECT sn.s_nationkey, byn.n_suppliers,
        |    round(sum(pow(CAST(sn.cents AS DOUBLE) / CAST(byn.tot AS DOUBLE),
        |      2)), 6) AS hhi
        |  FROM sn JOIN byn USING (s_nationkey) GROUP BY 1, 2)
        |SELECT n_name, n_suppliers, hhi FROM h
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,

    "q194_interpurchase" ->
      """WITH g AS (SELECT CAST(date_diff('day',
        |      lag(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate), o_orderdate) AS BIGINT) AS gap
        |  FROM orders),
        |k AS (SELECT gap FROM g WHERE gap IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.25), 4) AS p25,
        |  round(quantile_cont(gap, 0.5), 4) AS p50,
        |  round(quantile_cont(gap, 0.75), 4) AS p75
        |FROM k""".stripMargin,

    "q195_cohort_ltv" ->
      """WITH f AS (SELECT o_custkey,
        |    CAST(year(min(o_orderdate)) AS BIGINT) AS cohort,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 2)
        |    AS ltv_per_customer
        |FROM f GROUP BY 1 ORDER BY cohort""".stripMargin,

    "q196_ship_lag" ->
      """WITH g AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
        |      AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(lag_days) AS DOUBLE) / count(*), 4) AS avg_lag,
        |  round(quantile_cont(lag_days, 0.5), 4) AS median_lag,
        |  CAST(max(lag_days) AS BIGINT) AS max_lag
        |FROM g GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "q197_abc_analysis" ->
      """WITH byp AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |rk AS (SELECT cents, CAST(row_number() OVER (
        |    ORDER BY cents DESC, l_partkey) AS BIGINT) AS r FROM byp),
        |cum AS (SELECT cents, CAST(sum(cents) OVER (ORDER BY r) AS BIGINT)
        |    AS cum_cents FROM rk),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM byp),
        |cl AS (SELECT cents,
        |    CASE WHEN CAST(cum_cents AS HUGEINT) * 100 <=
        |        CAST(tot AS HUGEINT) * 80 THEN 'A'
        |      WHEN CAST(cum_cents AS HUGEINT) * 100 <=
        |        CAST(tot AS HUGEINT) * 95 THEN 'B'
        |      ELSE 'C' END AS abc_class
        |  FROM cum CROSS JOIN tot)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
        |FROM cl GROUP BY 1 ORDER BY abc_class""".stripMargin,

    "q198_return_rate" ->
      """WITH b AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT p_brand, n, x,
        |  round(CAST(x AS DOUBLE) / n, 6) AS rate,
        |  round(((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)) -
        |    1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n)
        |      / n + 1.96 * 1.96 / (4.0 * n * n))) /
        |    (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
        |  round(((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)) +
        |    1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n)
        |      / n + 1.96 * 1.96 / (4.0 * n * n))) /
        |    (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
        |FROM b ORDER BY p_brand""".stripMargin,

    "q199_dup_families" ->
      """WITH fam AS (SELECT text, CAST(count(*) AS BIGINT) AS family_size
        |  FROM documents GROUP BY text)
        |SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
        |  CAST(family_size * count(*) AS BIGINT) AS n_docs
        |FROM fam GROUP BY 1 ORDER BY family_size""".stripMargin,

    "q200_filter_funnel" -> {
      val scores = TF.LangMarkers.map { case (lang, markers) =>
        s"len(list_filter(ntoks, x -> list_contains(${sqlList(markers)}, x))) AS s_$lang"
      }.mkString(",\n    ")
      val langs = TF.LangMarkers.map(_._1)
      val mx    = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = mm THEN '$l'").mkString(" ")
      s"""WITH b AS (SELECT doc_id, text, $toksSql AS toks,
         |    $ntoksSql AS ntoks FROM documents),
         |m0 AS (SELECT doc_id, text,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text) END AS pr,
         |    CASE WHEN len(ntoks) = 0 THEN 0.0
         |         ELSE len(list_filter(ntoks, x -> list_contains(${sqlList(TF.StopwordsEn)}, x))) * 1.0 / len(ntoks) END AS sw,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks) END AS mtl,
         |    length(text) AS n, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    $scores
         |  FROM b),
         |m1 AS (SELECT doc_id, text, n_tokens,
         |    least(sw * 4.0, 1.0) * 0.4 + greatest(1.0 - pr * 4.0, 0.0) * 0.3
         |      + (CASE WHEN n BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.15
         |      + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.25 END) * 0.15 AS quality,
         |    $mx AS mm, ${langs.map(l => s"s_$l").mkString(", ")}
         |  FROM m0),
         |m2 AS (SELECT doc_id, text, n_tokens, quality,
         |    CASE WHEN mm = 0 THEN 'und' $cases END AS lang_pred
         |  FROM m1),
         |fl AS (SELECT text,
         |    n_tokens BETWEEN 10 AND 10000 AS c1,
         |    n_tokens BETWEEN 10 AND 10000 AND lang_pred = 'en' AS c2,
         |    n_tokens BETWEEN 10 AND 10000 AND lang_pred = 'en'
         |      AND quality >= 0.5 AS c3
         |  FROM m2),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |    CAST(count(DISTINCT CASE WHEN c3 THEN text END) AS BIGINT)
         |      AS s4
         |  FROM fl)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'all' AS rule,
         |    n0 AS n_surviving, CAST(0 AS BIGINT) AS n_dropped FROM a
         |  UNION ALL SELECT 1, 'length_band', s1, n0 - s1 FROM a
         |  UNION ALL SELECT 2, 'lang_en', s2, s1 - s2 FROM a
         |  UNION ALL SELECT 3, 'quality', s3, s2 - s3 FROM a
         |  UNION ALL SELECT 4, 'exact_dedup', s4, s3 - s4 FROM a)
         |ORDER BY stage""".stripMargin
    },

    "q201_rep_aware_sample" -> {
      val kh = graft.ops.Sampling.keyHashSql("doc_id")
      s"""WITH base AS (SELECT doc_id, text, n_chars FROM documents),
         |hsel AS (SELECT doc_id, text, n_chars, ($kh) % 10 AS h FROM base),
         |corpus AS (
         |  SELECT doc_id, text, n_chars FROM base
         |  UNION ALL SELECT doc_id + 300000, text, n_chars FROM hsel WHERE h < 4
         |  UNION ALL SELECT doc_id + 400000, text, n_chars FROM hsel WHERE h < 4
         |  UNION ALL SELECT doc_id + 500000, text, n_chars FROM hsel WHERE h < 2
         |  UNION ALL SELECT doc_id + 600000, text, n_chars FROM hsel WHERE h < 2
         |  UNION ALL SELECT doc_id + 700000, text, n_chars FROM hsel WHERE h < 2),
         |r AS (SELECT text, n_chars,
         |    CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS fs,
         |    CAST(row_number() OVER (PARTITION BY text
         |      ORDER BY ($kh), doc_id) AS BIGINT) AS rn
         |  FROM corpus),
         |k AS (SELECT text, fs, n_chars,
         |    CASE WHEN rn <= CAST(ceil(sqrt(CAST(fs AS DOUBLE))) AS BIGINT)
         |      THEN 1 ELSE 0 END AS keep
         |  FROM r),
         |fam AS (SELECT text, fs,
         |    CAST(sum(keep) AS BIGINT) AS kept,
         |    CAST(sum(CASE WHEN keep = 1 THEN n_chars END) AS BIGINT) AS ck,
         |    CAST(sum(n_chars) AS BIGINT) AS ca
         |  FROM k GROUP BY 1, 2)
         |SELECT fs AS family_size, CAST(count(*) AS BIGINT) AS n_families,
         |  CAST(sum(fs) AS BIGINT) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS kept_docs,
         |  CAST(sum(ck) AS BIGINT) AS chars_kept,
         |  CAST(sum(ca) AS BIGINT) AS chars_total
         |FROM fam GROUP BY fs ORDER BY family_size""".stripMargin
    },

    "q202_woe_iv" -> {
      val bad = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
      s"""WITH raw AS (
         |  SELECT 'quantity_band' AS feature,
         |    'q' || CAST(CAST(floor((l_quantity - 1) / 10.0) AS BIGINT) AS VARCHAR) AS bin,
         |    $bad AS bad FROM lineitem
         |  UNION ALL SELECT 'discount_pct',
         |    'd' || CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS VARCHAR),
         |    $bad FROM lineitem
         |  UNION ALL SELECT 'tax_pct',
         |    't' || CAST(CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS VARCHAR),
         |    $bad FROM lineitem
         |  UNION ALL SELECT 'price_band',
         |    'p' || CAST(CAST(least(floor(l_extendedprice / 20000.0), 4) AS BIGINT) AS VARCHAR),
         |    $bad FROM lineitem),
         |c AS (SELECT feature, bin,
         |    CAST(sum(1 - bad) AS BIGINT) AS n_good,
         |    CAST(sum(bad) AS BIGINT) AS n_bad
         |  FROM raw GROUP BY 1, 2),
         |sh AS (SELECT feature, bin, n_good, n_bad,
         |    (CAST(n_good AS DOUBLE) + 0.5) /
         |      CAST(sum(n_good) OVER (PARTITION BY feature) AS DOUBLE) AS gs,
         |    (CAST(n_bad AS DOUBLE) + 0.5) /
         |      CAST(sum(n_bad) OVER (PARTITION BY feature) AS DOUBLE) AS bs
         |  FROM c),
         |y AS (SELECT feature, bin, n_good, n_bad, gs, bs, ln(gs / bs) AS woe_raw
         |  FROM sh)
         |SELECT feature, bin, n_good, n_bad, round(woe_raw, 6) AS woe,
         |  round(sum((gs - bs) * woe_raw) OVER (PARTITION BY feature), 6) AS iv
         |FROM y ORDER BY feature, bin""".stripMargin
    },

    "q203_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |c AS (SELECT event_id AS cid, user_id AS cu, us AS cus FROM ev
        |  WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id AS tu, event_id AS tid, event_type AS channel,
        |    us AS tus FROM ev WHERE event_type <> 'purchase'),
        |p AS (SELECT cid, channel, tid, tus FROM c JOIN tch ON cu = tu
        |  AND tus <= cus AND tus > cus - 604800000000),
        |r AS (SELECT channel,
        |    row_number() OVER (PARTITION BY cid ORDER BY tus, tid) AS rna,
        |    row_number() OVER (PARTITION BY cid ORDER BY tus DESC, tid DESC) AS rnd,
        |    count(*) OVER (PARTITION BY cid) AS nt
        |  FROM p)
        |SELECT channel,
        |  CAST(sum(CASE WHEN rna = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
        |  CAST(sum(CASE WHEN rnd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
        |  round(sum(CAST(1.0 AS DOUBLE) / nt), 4) AS linear_credit,
        |  CAST(count(*) AS BIGINT) AS n_touches
        |FROM r GROUP BY 1 ORDER BY channel""".stripMargin,

    "q204_kcore" -> {
      // the engine's six peel rounds, unrolled: round i keeps edges whose
      // both endpoints had degree >= 2 in round i-1's edge set
      val rounds = (1 to 6).map { i =>
        s"""dg$i AS MATERIALIZED (SELECT v, count(*) AS d FROM (
           |    SELECT src AS v FROM e${i - 1} UNION ALL SELECT dst FROM e${i - 1})
           |  GROUP BY 1),
           |kp$i AS MATERIALIZED (SELECT v FROM dg$i WHERE d >= 2),
           |e$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1}
           |  WHERE src IN (SELECT v FROM kp$i) AND dst IN (SELECT v FROM kp$i))""".stripMargin
      }.mkString(",\n")
      val sums = (0 to 6).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
           |    (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM (
           |       SELECT src AS v FROM e$i UNION ALL SELECT dst FROM e$i)) AS n_vertices,
           |    (SELECT CAST(count(*) AS BIGINT) FROM e$i) AS n_edges""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |tr AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(src, item) AS src, greatest(src, item) AS dst
         |  FROM tr WHERE src IS NOT NULL AND item IS NOT NULL AND src <> item),
         |$rounds,
         |traj AS ($sums)
         |SELECT round, n_vertices, n_edges,
         |  CAST(CASE WHEN round > 0 AND n_edges = lag(n_edges) OVER (ORDER BY round)
         |    THEN 1 ELSE 0 END AS BIGINT) AS converged
         |FROM traj ORDER BY round""".stripMargin
    },

    "q205_bfs_hops" -> {
      // eight min-plus relaxation rounds, unrolled over the symmetrized
      // distinct edge list; source = smallest vertex id
      val rounds = (1 to 8).map { i =>
        s"""s$i AS MATERIALIZED (SELECT n, CAST(min(dist) AS BIGINT) AS dist FROM (
           |    SELECT n, dist FROM s${i - 1}
           |    UNION ALL SELECT e.dst AS n, st.dist + 1 AS dist
           |      FROM s${i - 1} st JOIN eu e ON e.src = st.n)
           |  GROUP BY n)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |tr AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |ed AS MATERIALIZED (SELECT src, item AS dst FROM tr
         |  WHERE src IS NOT NULL AND item IS NOT NULL AND src <> item),
         |eu AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM ed
         |    UNION ALL SELECT dst AS src, src AS dst FROM ed)),
         |s0 AS (SELECT (SELECT min(src) FROM eu) AS n, CAST(0 AS BIGINT) AS dist),
         |$rounds
         |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM s8 GROUP BY dist ORDER BY dist""".stripMargin
    },

    "q206_peak_concurrency" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |sw AS (SELECT us * 2 + 1 AS key, 1 AS delta FROM ev
        |  UNION ALL SELECT (us + 60000000) * 2, -1 FROM ev),
        |k AS (SELECT key, CAST(sum(delta) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS starts
        |  FROM sw GROUP BY 1),
        |r AS (SELECT key, starts,
        |    CAST(sum(d) OVER (ORDER BY key) AS BIGINT) AS run FROM k)
        |SELECT strftime(make_timestamp(key // 2), '%Y-%m-%d') AS day,
        |  CAST(max(run) AS BIGINT) AS peak,
        |  CAST(sum(starts) AS BIGINT) AS n_starts
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin,

    "q207_ewma_forecast" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day_num, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |sc AS (SELECT event_type, day_num AS d, v AS actual,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY day_num) AS naive
        |  FROM daily),
        |f AS (SELECT s.event_type, s.d, s.actual, s.naive,
        |    sum(pow(0.7, CAST(s.d - 1 - p.day_num AS DOUBLE)) * p.v) /
        |      sum(pow(0.7, CAST(s.d - 1 - p.day_num AS DOUBLE))) AS f
        |  FROM sc s JOIN daily p ON p.event_type = s.event_type
        |    AND p.day_num >= s.d - 20 AND p.day_num < s.d
        |  WHERE s.naive IS NOT NULL
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(abs(f - actual)), 4) AS mae_ewma,
        |  round(avg(abs(naive - actual)), 4) AS mae_naive
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q208_golden_record" -> {
      val kh = graft.ops.Sampling.keyHashSql("c_custkey")
      s"""WITH base AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
         |    ($kh) % 10 AS h FROM customer),
         |v AS (SELECT c_custkey, CAST(1 AS BIGINT) AS sys, c_name,
         |    c_mktsegment, c_acctbal FROM base
         |  UNION ALL SELECT c_custkey, 2, NULL, 'UPDATED ' || c_mktsegment,
         |    NULL FROM base WHERE h < 5
         |  UNION ALL SELECT c_custkey, 3, 'MERGED ' || c_name, NULL,
         |    c_acctbal + 100.0 FROM base WHERE h < 2),
         |g AS (SELECT c_custkey, sys,
         |    first_value(c_name IGNORE NULLS) OVER wfull AS g_name,
         |    first_value(c_mktsegment IGNORE NULLS) OVER wfull AS g_segment,
         |    first_value(c_acctbal IGNORE NULLS) OVER wfull AS g_acctbal,
         |    first_value(CASE WHEN c_name IS NOT NULL THEN sys END
         |      IGNORE NULLS) OVER wfull AS name_src,
         |    first_value(CASE WHEN c_mktsegment IS NOT NULL THEN sys END
         |      IGNORE NULLS) OVER wfull AS seg_src,
         |    first_value(CASE WHEN c_acctbal IS NOT NULL THEN sys END
         |      IGNORE NULLS) OVER wfull AS bal_src,
         |    row_number() OVER (PARTITION BY c_custkey ORDER BY sys DESC) AS rn
         |  FROM v
         |  WINDOW wfull AS (PARTITION BY c_custkey ORDER BY sys DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |SELECT c_custkey, g_name, g_segment,
         |  round(g_acctbal, 2) AS g_acctbal,
         |  CAST(name_src AS BIGINT) AS name_src,
         |  CAST(seg_src AS BIGINT) AS seg_src,
         |  CAST(bal_src AS BIGINT) AS bal_src
         |FROM g WHERE rn = 1 AND ($kh) % 20 = 0
         |ORDER BY c_custkey""".stripMargin
    },

    "q209_theil_sen" ->
      """WITH monthly AS (SELECT p_brand,
        |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |tsj AS (SELECT a.p_brand, quantile_cont(
        |      CAST(b.cents - a.cents AS DOUBLE) / CAST(b.m - a.m AS DOUBLE),
        |      0.5) AS ts_slope
        |  FROM monthly a JOIN monthly b
        |    ON a.p_brand = b.p_brand AND a.m < b.m
        |  GROUP BY 1),
        |ols AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_months,
        |    CAST(sum(m) AS BIGINT) AS sx, CAST(sum(cents) AS BIGINT) AS sy,
        |    CAST(sum(m * cents) AS BIGINT) AS sxy,
        |    CAST(sum(m * m) AS BIGINT) AS sxx
        |  FROM monthly GROUP BY 1)
        |SELECT o.p_brand, o.n_months, round(t.ts_slope, 4) AS ts_slope,
        |  round(CAST(o.n_months * o.sxy - o.sx * o.sy AS DOUBLE) /
        |    CAST(o.n_months * o.sxx - o.sx * o.sx AS DOUBLE), 4) AS ols_slope
        |FROM ols o JOIN tsj t ON o.p_brand = t.p_brand
        |ORDER BY o.p_brand""".stripMargin,

    "q210_copurchase" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders
        |  FROM baskets),
        |bn AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM baskets
        |  GROUP BY 1),
        |pairs AS (SELECT x.b AS b1, y.b AS b2,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.b < y.b
        |  GROUP BY 1, 2)
        |SELECT b1, b2, n_ab,
        |  round(CAST(n_ab AS DOUBLE) * n.n_orders /
        |    (CAST(a.nb AS DOUBLE) * CAST(c.nb AS DOUBLE)), 4) AS lift
        |FROM pairs JOIN bn a ON a.b = b1 JOIN bn c ON c.b = b2
        |  CROSS JOIN n
        |ORDER BY n_ab DESC, b1, b2 LIMIT 20""".stripMargin,

    "q211_rev_rec" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS m0
        |  FROM orders),
        |sp AS (SELECT m0 + i AS month_idx,
        |    cents // 3 + CASE WHEN i < cents % 3 THEN 1 ELSE 0 END AS amt
        |  FROM o CROSS JOIN (SELECT CAST(range AS BIGINT) AS i
        |    FROM range(3)) t)
        |SELECT month_idx, CAST(sum(amt) AS BIGINT) AS recognized_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM sp GROUP BY 1 ORDER BY month_idx""".stripMargin,

    "q212_minhash_setsim" -> {
      val kh = graft.ops.Sampling.keyHashSql("(u + sd * 1000003)")
      s"""WITH ue AS (SELECT DISTINCT event_type AS et, user_id AS u
         |  FROM events),
         |seeds AS (SELECT CAST(range AS BIGINT) AS sd FROM range(64)),
         |mh AS (SELECT et, sd, min($kh) AS mn
         |  FROM ue CROSS JOIN seeds GROUP BY 1, 2),
         |est AS (SELECT a.et AS t1, b.et AS t2,
         |    CAST(sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS DOUBLE)
         |      / 64.0 AS est_raw
         |  FROM mh a JOIN mh b ON a.sd = b.sd AND a.et < b.et GROUP BY 1, 2),
         |cnt AS (SELECT et, CAST(count(*) AS BIGINT) AS n FROM ue GROUP BY 1),
         |inter AS (SELECT x.et AS t1, y.et AS t2,
         |    CAST(count(*) AS BIGINT) AS n_ab
         |  FROM ue x JOIN ue y ON x.u = y.u AND x.et < y.et GROUP BY 1, 2)
         |SELECT i.t1, i.t2, i.n_ab,
         |  round(CAST(i.n_ab AS DOUBLE) / CAST(c1.n + c2.n - i.n_ab AS DOUBLE),
         |    4) AS exact_jaccard,
         |  round(e.est_raw, 4) AS minhash_est
         |FROM inter i JOIN cnt c1 ON c1.et = i.t1 JOIN cnt c2 ON c2.et = i.t2
         |  JOIN est e ON e.t1 = i.t1 AND e.t2 = i.t2
         |ORDER BY i.t1, i.t2""".stripMargin
    },

    "q213_ccf" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS d, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT CAST(range AS BIGINT) AS lag_d FROM range(6)),
        |g AS (SELECT a.event_type AS t1, b.event_type AS t2, l.lag_d,
        |    CAST(count(*) AS BIGINT) AS n, sum(a.v) AS sx, sum(b.v) AS sy,
        |    sum(a.v * b.v) AS sxy, sum(a.v * a.v) AS sxx,
        |    sum(b.v * b.v) AS syy
        |  FROM daily a CROSS JOIN l JOIN daily b
        |    ON b.d = a.d + l.lag_d AND a.event_type <> b.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT t1, t2, lag_d,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r
        |FROM g ORDER BY t1, t2, lag_d""".stripMargin,

    "q214_croston" -> {
      val kh = graft.ops.Sampling.keyHashSql("l_partkey")
      s"""WITH weekly AS (SELECT l_partkey,
         |    CAST((year(l_shipdate) - 1992) * 53 + weekofyear(l_shipdate)
         |      AS BIGINT) AS wk,
         |    sum(l_quantity) AS q
         |  FROM lineitem GROUP BY 1, 2),
         |span AS (SELECT CAST(max(wk) - min(wk) + 1 AS DOUBLE)
         |    AS total_weeks FROM weekly),
         |per AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_active,
         |    sum(q) AS total_q, avg(q) AS z
         |  FROM weekly GROUP BY 1)
         |SELECT l_partkey, n_active, round(z, 4) AS z,
         |  round(total_weeks / CAST(n_active AS DOUBLE), 4) AS p,
         |  round(z * CAST(n_active AS DOUBLE) / total_weeks, 4) AS croston_f,
         |  round(total_q / total_weeks, 4) AS naive_f
         |FROM per CROSS JOIN span
         |WHERE ($kh) % 50 = 0 ORDER BY l_partkey""".stripMargin
    },

    "q215_skew_audit" ->
      """WITH c1 AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |c2 AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |c3 AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |s1 AS (SELECT 'l_partkey' AS key_col, CAST(count(*) AS BIGINT)
        |    AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
        |    quantile_cont(c, 0.5) AS p50, quantile_cont(c, 0.99) AS p99,
        |    CAST(max(c) AS BIGINT) AS max_c FROM c1),
        |s2 AS (SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(c) AS BIGINT), quantile_cont(c, 0.5),
        |    quantile_cont(c, 0.99), CAST(max(c) AS BIGINT) FROM c2),
        |s3 AS (SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(c) AS BIGINT), quantile_cont(c, 0.5),
        |    quantile_cont(c, 0.99), CAST(max(c) AS BIGINT) FROM c3),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3)
        |SELECT key_col, n_keys, n_rows, round(p50, 6) AS p50,
        |  round(p99, 6) AS p99, max_c,
        |  round(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS top_share,
        |  CAST(ceil(CAST(max_c AS DOUBLE) / p50) AS BIGINT) AS salt_factor
        |FROM u ORDER BY key_col""".stripMargin,

    "q216_seasonal_decompose" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    sum(value) AS v
        |  FROM events GROUP BY 1),
        |tr AS (SELECT d, v,
        |    avg(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3
        |      FOLLOWING) AS trend,
        |    count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3
        |      FOLLOWING) AS wn
        |  FROM daily),
        |detr AS (SELECT (d + 3) % 7 AS dow, v - trend AS detr
        |  FROM tr WHERE wn = 7),
        |dm AS (SELECT dow, avg(detr) AS seasonal,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM detr GROUP BY 1)
        |SELECT t.dow, any_value(m.n_days) AS n_days,
        |  round(any_value(m.seasonal), 4) AS seasonal,
        |  round(sqrt(avg((t.detr - m.seasonal) * (t.detr - m.seasonal))), 4)
        |    AS resid_sd
        |FROM detr t JOIN dm m ON m.dow = t.dow
        |GROUP BY t.dow ORDER BY t.dow""".stripMargin,

    "q217_jackknife_ci" -> {
      val kh = graft.ops.Sampling.keyHashSql("o_orderkey")
      s"""WITH b AS (SELECT ($kh) % 50 AS bk,
         |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(sum(s) AS BIGINT) AS st,
         |    CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nb
         |  FROM b),
         |loo AS (SELECT st, nt, nb,
         |    CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE) AS m_i
         |  FROM b CROSS JOIN tot),
         |mb AS (SELECT avg(m_i) AS mbar FROM loo),
         |jk AS (SELECT st, nt, nb,
         |    sum((m_i - mbar) * (m_i - mbar)) AS ss
         |  FROM loo CROSS JOIN mb GROUP BY 1, 2, 3),
         |o AS (SELECT nt AS n_orders,
         |    round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / 100.0, 4)
         |      AS mean_value,
         |    round(sqrt(CAST(nb - 1 AS DOUBLE) / CAST(nb AS DOUBLE) *
         |      ss) / 100.0, 4) AS jk_se
         |  FROM jk)
         |SELECT n_orders, mean_value, jk_se,
         |  round(mean_value - 1.96 * jk_se, 4) AS ci_lo,
         |  round(mean_value + 1.96 * jk_se, 4) AS ci_hi FROM o""".stripMargin
    },

    "q218_assortativity" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |dc AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM edges
        |  GROUP BY 1),
        |ds AS (SELECT sp, CAST(count(*) AS BIGINT) AS ds FROM edges
        |  GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(count(DISTINCT e.c) AS BIGINT) AS n_cust,
        |    CAST(count(DISTINCT e.sp) AS BIGINT) AS n_supp,
        |    CAST(sum(dc.dc) AS BIGINT) AS sx,
        |    CAST(sum(ds.ds) AS BIGINT) AS sy,
        |    CAST(sum(dc.dc * ds.ds) AS BIGINT) AS sxy,
        |    CAST(sum(dc.dc * dc.dc) AS BIGINT) AS sxx,
        |    CAST(sum(ds.ds * ds.ds) AS BIGINT) AS syy
        |  FROM edges e JOIN dc ON dc.c = e.c JOIN ds ON ds.sp = e.sp)
        |SELECT n_edges, n_cust, n_supp,
        |  round(CAST(n_edges * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE) *
        |      CAST(n_edges * syy - sy * sy AS DOUBLE)), 4) AS assortativity
        |FROM g""".stripMargin,

    "q219_readability" ->
      """WITH c AS (SELECT lang,
        |    len(regexp_extract_all(text, '[A-Za-z]+', 0)) AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]', 0)), 1) AS snt,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS syl
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(CAST(w AS DOUBLE) / CAST(snt AS DOUBLE)), 4)
        |    AS words_per_sentence,
        |  round(avg(CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4)
        |    AS syllables_per_word,
        |  round(avg(206.835 - 1.015 * CAST(w AS DOUBLE) / CAST(snt AS DOUBLE)
        |    - 84.6 * CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4)
        |    AS avg_flesch
        |FROM c WHERE w > 0 GROUP BY 1 ORDER BY lang""".stripMargin,

    "q220_price_index" ->
      """WITH py AS (SELECT l_partkey AS pk,
        |    CAST(year(l_shipdate) AS BIGINT) AS yr,
        |    sum(l_extendedprice) / sum(l_quantity) AS p,
        |    sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |y0 AS (SELECT min(yr) AS base_yr FROM py),
        |base AS (SELECT pk, p AS p0, q AS q0 FROM py CROSS JOIN y0
        |  WHERE yr = base_yr)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n_parts,
        |  round(sum(p * q0) / sum(p0 * q0), 4) AS laspeyres
        |FROM py JOIN base USING (pk) GROUP BY 1 ORDER BY yr""".stripMargin,

    "q221_calendar_anomalies" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    sum(value) AS v
        |  FROM events GROUP BY 1),
        |dd AS (SELECT d, v, (d + 3) % 7 AS dow FROM daily),
        |base AS (SELECT dow, avg(v) AS mu,
        |    sqrt(avg(v * v) - avg(v) * avg(v)) AS sd
        |  FROM dd GROUP BY 1)
        |SELECT d, dow, round(v, 2) AS v, round((v - mu) / sd, 4) AS z
        |FROM dd JOIN base USING (dow) WHERE sd > 0
        |ORDER BY abs((v - mu) / sd) DESC, d LIMIT 10""".stripMargin,

    "q222_late_arrival" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |w AS (SELECT event_type, us,
        |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        |  FROM e),
        |l AS (SELECT event_type, CAST(wm - us AS DOUBLE) / 1e6 AS late_s
        |  FROM w)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(avg(CASE WHEN late_s > 0 THEN 1.0 ELSE 0.0 END), 4)
        |    AS pct_late,
        |  round(quantile_cont(late_s, 0.95), 4) AS p95_late_s,
        |  round(max(late_s), 4) AS max_late_s
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q223_lsh_planner" ->
      s"""WITH $ngramPairsCtes,
         |grid AS (SELECT * FROM (VALUES (4, 4), (8, 4), (8, 8), (16, 4),
         |  (16, 8), (32, 4)) g(bands, rpb)),
         |sc AS (SELECT bands, rpb, jaccard AS j,
         |    1 - pow(1 - pow(jaccard, CAST(rpb AS DOUBLE)),
         |      CAST(bands AS DOUBLE)) AS p
         |  FROM pairs CROSS JOIN grid)
         |SELECT bands, rpb, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(sum(p), 2) AS exp_cands,
         |  CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pairs_05,
         |  round(sum(CASE WHEN j >= 0.5 THEN p END) /
         |    sum(CASE WHEN j >= 0.5 THEN 1.0 END), 4) AS recall_05
         |FROM sc GROUP BY 1, 2 ORDER BY bands, rpb""".stripMargin,

    "q224_encoding_audit" -> {
      def auditSql(c: String): String =
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |    round(CAST(count(DISTINCT $c) AS DOUBLE) /
           |      CAST(count(*) AS DOUBLE), 6) AS distinct_ratio,
           |    round(CAST(count(*) AS DOUBLE) /
           |      CAST(sum(CASE WHEN prev IS NULL OR prev <> $c THEN 1
           |        ELSE 0 END) AS DOUBLE), 4) AS avg_run_len
           |  FROM (SELECT $c, lag($c) OVER (PARTITION BY l_orderkey
           |    ORDER BY l_linenumber, l_partkey, l_suppkey) AS prev
           |    FROM lineitem)""".stripMargin
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey")
        .map(auditSql)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q225_dedup_threshold_curve" ->
      s"""WITH $ngramPairsCtes,
         |pj AS (SELECT idA, idB, jaccard AS j FROM pairs),
         |grid AS (SELECT CAST(x AS DOUBLE) AS thresh FROM (VALUES (0.3),
         |  (0.4), (0.5), (0.6), (0.7), (0.8)) g(x)),
         |st AS (SELECT thresh, idA, idB FROM pj CROSS JOIN grid
         |  WHERE j >= thresh),
         |np AS (SELECT thresh, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM st GROUP BY 1),
         |nd AS (SELECT thresh, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |  FROM (SELECT thresh, idA AS id FROM st
         |    UNION ALL SELECT thresh, idB FROM st)
         |  GROUP BY 1)
         |SELECT np.thresh, np.n_pairs, nd.n_docs
         |FROM np JOIN nd ON np.thresh = nd.thresh
         |ORDER BY np.thresh""".stripMargin

  )
}
