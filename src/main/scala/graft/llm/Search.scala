package graft.llm

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TopK

/** BM25 keyword retrieval over a document corpus — the search primitive a
  * training-data pipeline needs for decontamination probes ("which corpus
  * docs match this benchmark question?") and corpus exploration.
  *
  * Two forms:
  *   - [[bm25TopK]] — ad-hoc: two map-only passes over the text (posting
  *     lists + the 1-row stats aggregate) for a one-shot query batch;
  *   - [[writeSearchIndex]] / [[querySearchIndex]] — index at rest: the
  *     postings are written term-sorted once, and each query batch reads
  *     ONLY the row groups of its own terms (parquet min/max + IN
  *     pushdown) — zero passes over the corpus text per batch. This is
  *     the 100 TB shape when the corpus is queried more than once.
  *
  * Shared scale properties:
  *   - after tokenization only (term, doc_id, tf, dl) rows — ids and small
  *     ints — ever shuffle, never the text;
  *   - the query-term relation is tiny and is BROADCAST into the postings
  *     join;
  *   - corpus statistics (N, total tokens) ride a 1-row broadcast relation;
  *   - per-(query, doc) scores aggregate with partial (map-side) combine,
  *     and the final top-k uses the bounded [[TopK]] aggregator, not a
  *     window — each partition emits at most k candidates per query.
  *
  * Determinism: per-term contributions are fixed to integer micro-units
  * BEFORE the per-document sum, so the (query, doc) score is an
  * order-independent BIGINT — float summation order can never flip a rank
  * between this engine and the oracle. The only float op left is one `ln`
  * per (query term), rounded at 1e-6 granularity.
  */
object Search {

  /** Search tokenizer, shared verbatim with the DuckDB oracle: lowercase,
    * split on runs of non-alphanumerics, drop empties.
    */
  def searchTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+", -1), t => length(t) > 0)

  /** Posting lists: one row per (term, doc) with exact integer term
    * frequency `tf` and document length `dl`. The text column is consumed
    * map-side; only id+int rows reach the shuffle.
    */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        searchTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Lucene-style BM25 top-k: `queries` is a (query_id, query_text)
    * relation (small — it is broadcast). Returns
    * (query_id, doc_id, score, rank) with rank 1..k per query, ranked by
    * (score desc, doc_id asc).
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5));
    * tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(docs, textCol, idCol)
    // Corpus stats as a 1-row broadcast relation: N counts docs with at
    // least one token (a token-less doc can never match and contributes
    // nothing to avgdl).
    val stats = docs.agg(
      count(when(size(searchTokens(col(textCol))) > 0, 1)).as("n_docs"),
      sum(size(searchTokens(col(textCol))).cast("long")).as("total_toks"))
    rank(post, stats, queries, k, k1, b)
  }

  /** Persist the inverted index: term-sorted postings (so a term filter
    * prunes row groups on read) plus the 1-row corpus stats. Build once;
    * query batches then never touch the corpus text.
    */
  def writeSearchIndex(docs: DataFrame, textCol: String, idCol: String,
                       path: String): Unit = {
    val post = postings(docs, textCol, idCol)
      .materialize
    post
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/postings")
    // Per-term stats for max-score serving: df (same definition the ad-hoc
    // path derives from matched postings — one row per (term, doc)) and
    // max_tf, from which a k1/b-independent upper bound on any document's
    // contribution follows at query time (tf_norm is increasing in tf and
    // decreasing in dl, so tfn <= max_tf*(k1+1)/(max_tf + k1*(1-b))).
    post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$path/termstats")
    docs.agg(
        count(when(size(searchTokens(col(textCol))) > 0, 1)).as("n_docs"),
        sum(size(searchTokens(col(textCol))).cast("long")).as("total_toks"))
      .write.mode("overwrite").parquet(s"$path/stats")
    ()
  }

  /** BM25 top-k against a persisted [[writeSearchIndex]] layout. The query
    * batch's distinct terms (a bounded driver-side set — a query batch is
    * small by definition) become an IN filter pushed into the postings
    * scan, so only matching row groups of the term-sorted files are read.
    */
  def querySearchIndex(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    val terms = queries
      .select(explode(array_distinct(searchTokens(col("query_text"))))
        .as("term"))
      .distinct().collect().map(_.getString(0)).toSeq
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(terms: _*))
    val stats = spark.read.parquet(s"$path/stats")
    val tstats = spark.read.parquet(s"$path/termstats")
      .filter(col("term").isin(terms: _*))
    // Short-circuit on the batch's term mix (ONE bounded driver action
    // over batch-term stats x the 1-row corpus stats): max-score pruning
    // only ever pays when the batch has BOTH essential (rare) terms to
    // build a floor from AND common terms whose fan-out it can skip.
    // All-common batches (nothing to prune with) and all-rare batches
    // (nothing worth pruning) take the direct plan with zero added
    // stages.
    val meta = tstats.select(col("df"))
      .crossJoin(stats.select(col("n_docs"))).collect()
    val nEss = meta.count(r =>
      r.getLong(0) <= EssentialDfFrac * r.getLong(1))
    val nCommon = meta.length - nEss
    if (nEss > 0 && nCommon > 0)
      rankServed(post, tstats, stats, queries, k, k1, b)
    else rank(post, stats, queries, k, k1, b, dedupeQueries = true)
  }

  /** Shared scoring tail: prune postings to query terms, df over the
    * pruned set (df is a property of the term, so pruning doesn't change
    * it), integer micro-unit contributions, bounded top-k.
    *
    * `dedupeQueries`: queries with an identical distinct-term SET share
    * scores exactly (BM25 is a sum over the set), so the serving path
    * scores ONE representative per set and replicates results over a
    * broadcast map at the end — repeated probes (the decontamination
    * pattern of re-issuing the same benchmark questions per corpus
    * snapshot) then cost one scoring pass, not one per copy. The dedup
    * costs one extra tiny stage + broadcast join per call (~0.3 s fixed,
    * measured), which a large or repeated serving batch amortizes but a
    * small one-shot ad-hoc batch would only pay — so [[bm25TopK]] keeps
    * the direct plan and [[querySearchIndex]] dedupes.
    */
  private def rank(post: DataFrame, stats: DataFrame, queries: DataFrame,
                   k: Int, k1: Double, b: Double,
                   dedupeQueries: Boolean = false): DataFrame = {
    // dropDuplicates(query_id): a batch that carries the same query row
    // twice must stay idempotent — without this, the direct path would
    // double-count its contributions (scores exactly 2x) and the dedupe
    // path's replicate map would emit each result row once per copy. The
    // dedup aggregates the tiny query batch, never the postings.
    val qsets = queries.select(col("query_id"),
      sort_array(array_distinct(searchTokens(col("query_text"))))
        .as("__tset"))
      .dropDuplicates("query_id")
    // When dedupeQueries, score only one representative query_id per term
    // set; qmap replicates its rows back to every duplicate at the end.
    // Renamed columns (and the group-key rename inside TopK) keep that
    // replicate join free of self-join ambiguity — top and qmap both
    // descend from `queries`.
    val (qterms, qmap) =
      if (dedupeQueries) {
        val reps = qsets.groupBy(col("__tset"))
          .agg(min(col("query_id")).as("__rep"))
        (reps.select(col("__rep").as("query_id"),
           explode(col("__tset")).as("term")),
         Some(qsets.join(reps, Seq("__tset"))
           .select(col("query_id").as("__orig_qid"), col("__rep"))))
      } else
        (qsets.select(col("query_id"), explode(col("__tset")).as("term")),
         None)

    // Materialize the matched postings ONLY on the ad-hoc path, where
    // `post` is the full tokenize-explode of the corpus text (expensive,
    // and consumed by both the df aggregate and the micro pass). The
    // index-serving path (dedupeQueries) reads term-sorted parquet with
    // the query-term IN filter pushed into the scan — re-scanning the
    // pruned row groups twice is cheaper than materializing, and the
    // pushdown stays visible in the served plan (WarehouseOpsSpec pins it).
    val matched0 = post.join(broadcast(qterms.select("term").distinct()),
      Seq("term"))
    val matched =
      if (dedupeQueries) matched0 else matched0.materialize
    val df_ = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // one row per (term, doc) => count = df

    // The BM25 contribution of a (term, doc) posting is query-independent,
    // so compute the integer micro-unit ONCE per matched posting, BEFORE
    // the per-query fan-out. The fan-out join and the (query, doc) sum —
    // the batch-scaling hot path, linear in sum over queries of matched
    // postings — then ship and evaluate nothing but narrow
    // (term, doc_id, micro-long) rows, no per-row transcendentals.
    val tdMicro = microOf(matched, df_, stats, k1, b)

    // Serving path only: repartition the NARROW per-posting rows by doc
    // BEFORE the query fan-out. hash(doc_id) satisfies the
    // (query_id, doc_id) clustering the score sum needs, so the fanned
    // relation — |postings| x queries-per-term rows, the largest in the
    // whole plan — aggregates in place with NO exchange, and the bounded
    // TopK partial then ships only k rows per (query, partition). Without
    // this the plan shuffles the fanned rows themselves (~1B at a
    // 1000-query batch over a 1M-doc corpus). Ad-hoc small batches skip
    // it: fan-out there is a handful of queries, and the extra stage is
    // pure fixed latency (~0.2 s measured at sf0.1).
    val tdScoring =
      if (dedupeQueries) tdMicro.repartition(col("doc_id")) else tdMicro

    val scored = tdScoring
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__micro")).as("score_micro"))

    val top = TopK.perGroup(
      scored.withColumn("__s", col("score_micro").cast("double")),
      "query_id", "__s", "doc_id", "doc_id", k)

    val scoreCol =
      (col("score").cast("long").cast("double") / lit(1e6)).as("score")
    qmap match {
      case Some(m) =>
        top.join(broadcast(m), col("group") === col("__rep"))
          .select(col("__orig_qid").as("query_id"),
            col("tie").as("doc_id"), scoreCol, col("rank"))
      case None =>
        top.select(col("group").as("query_id"),
          col("tie").as("doc_id"), scoreCol, col("rank"))
    }
  }

  /** Exact per-posting BM25 contribution in integer micro-units — the ONE
    * definition both the direct and the max-score serving paths use, so
    * their scores are bit-identical by construction.
    * `dfTable` is (term, df); df is a property of the term, identical
    * whether derived from matched postings or read from the persisted
    * termstats table.
    */
  private def microOf(p: DataFrame, dfTable: DataFrame, stats: DataFrame,
                      k1: Double, b: Double): DataFrame =
    p.join(broadcast(dfTable.select(col("term"), col("df"))), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("total_toks").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("__tfn",
        col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("__avgdl"))))
      .select(col("term"), col("doc_id"),
        round(col("__idf") * col("__tfn") * lit(1e6), 0).cast("long")
          .as("__micro"))

  /** Essential/common split point for max-score serving: a term is
    * ESSENTIAL iff its df is at most this fraction of the corpus. The
    * essential side is the one that fans out per query, so its cost is
    * bounded by (batch size x EssentialDfFrac x corpus) in the worst
    * case; everything above the line is scored only for surviving
    * candidates. 0.2 keeps genuinely selective terms (entity tokens, ids,
    * rare vocabulary) in and mid-df terms out — a 0.5 cutoff measured
    * 1.1B essential-fanout rows on a fixture whose shared words sat at
    * 34% df (round-6 probe), because a mid-df term shared by hundreds of
    * batch queries multiplies its whole posting list by that sharing.
    * The round-7 split-point sweep at the f500 Zipf fixture
    * (history/BENCH_NOTES_r7.md §6) measured 0.2 as the optimum ITSELF:
    * CPU 522/366/316/7913/4385 s at cutoffs 0.05/0.1/0.2/0.35/0.5 — a
    * shallow basin on the rare side (0.1 within 16%; 0.05 pays 1.65x in
    * uncertifiable fallbacks) and a 25x cliff once mid-df terms turn
    * essential. A per-batch adaptive split could at best recover the
    * basin's floor, already within measurement noise of the constant —
    * negative result recorded, the constant stands.
    */
  private final val EssentialDfFrac = 0.2

  /** Max-score (WAND-family) serving against a persisted index: EXACT
    * top-k at a fraction of the aggregation work when queries mix rare and
    * common terms.
    *
    * Idea: split each query's terms into ESSENTIAL (rare:
    * df <= EssentialDfFrac of docs) and COMMON. Score candidates on essential postings only; the
    * kth-best essential score F_q is a lower bound on the final kth-best
    * score. Every term's contribution to any document is bounded above by
    * ub(term) = ceil(idf * max_tf*(k1+1)/(max_tf + k1*(1-b)) * 1e6) + 1
    * (tf_norm increases in tf, decreases in dl; round(x) <= floor(ub)+1),
    * so a document containing NO essential term scores at most
    * UB_ne(q) = sum of its common-term bounds. When F_q > UB_ne(q)
    * strictly, such documents can never enter the top k (nor tie the kth,
    * integers + strict inequality), so the common postings are never
    * fanned out per query: they are joined ONCE against the surviving
    * candidates (those with essential score + UB_ne >= F_q) to complete
    * their exact scores. Queries where the bound cannot certify
    * exactness — fewer than k essential candidates, all terms common, or
    * F_q <= UB_ne — fall back to the direct full-scoring plan, restricted
    * to just those queries, so results are ALWAYS exact.
    *
    * At 100 TB this turns the serving cost from (sum over queries of ALL
    * matched postings) into (rare postings fan-out + one candidate-sized
    * join against common postings): on Zipfian corpora the common terms
    * are the posting-volume hogs with the least score impact. On a corpus
    * where every query term is common (the adversarial all-common
    * fixture), everything falls back and the cost is the direct plan plus
    * a batch-sized constant.
    */
  private def rankServed(post: DataFrame, tstats: DataFrame,
                         stats: DataFrame, queries: DataFrame,
                         k: Int, k1: Double, b: Double): DataFrame = {
    // identical batch hygiene + term-set dedup as rank(dedupeQueries=true)
    val qsets = queries.select(col("query_id"),
        sort_array(array_distinct(searchTokens(col("query_text"))))
          .as("__tset"))
      .dropDuplicates("query_id")
    val reps = qsets.groupBy(col("__tset"))
      .agg(min(col("query_id")).as("__rep"))
    val qmap = qsets.join(reps, Seq("__tset"))
      .select(col("query_id").as("__orig_qid"), col("__rep"))
    val qterms = reps.select(col("__rep").as("query_id"),
      explode(col("__tset")).as("term"))

    // per-(query, term): stored df/max_tf -> idf, contribution upper
    // bound, common/essential split. Terms absent from the corpus drop out
    // here exactly as they drop out of the postings join in rank().
    val qt = qterms.join(broadcast(tstats), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("__tfn_ub",
        col("max_tf") * lit(k1 + 1.0) /
          (col("max_tf") + lit(k1 * (1.0 - b))))
      .withColumn("__ub",
        floor(col("__idf") * col("__tfn_ub") * lit(1e6)).cast("long") +
          lit(1L))
      .withColumn("__common",
        col("df").cast("double") >
          col("n_docs").cast("double") * lit(EssentialDfFrac))
      .select(col("query_id"), col("term"), col("__ub"), col("__common"))
      .materialize

    val perQ = qt.groupBy(col("query_id")).agg(
      sum(when(col("__common"), col("__ub")).otherwise(0L)).as("__ub_ne"),
      count(when(!col("__common"), 1)).as("__n_ess"))

    // exact essential-only scores (same micro definition as the full plan)
    val essT = qt.filter(!col("__common")).select(col("term")).distinct()
    val essMicro = microOf(post.join(broadcast(essT), Seq("term")),
      tstats, stats, k1, b)
    val essScores = essMicro
      .repartition(col("doc_id")) // in-place (query, doc) aggregation
      .join(broadcast(qt.filter(!col("__common"))
        .select(col("query_id"), col("term"))), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__micro")).as("__essp"))
      .materialize

    // F_q = kth-best essential score; exactness certificate per query
    val floors = TopK.perGroup(
        essScores.withColumn("__s", col("__essp").cast("double")),
        "query_id", "__s", "doc_id", "doc_id", k)
      .groupBy(col("group").as("query_id"))
      .agg(min(col("score")).as("__fq"), count(lit(1)).as("__nc"))
    val qstate = perQ.join(floors, Seq("query_id"), "left")
      .withColumn("__prunable",
        col("__n_ess") > 0 && coalesce(col("__nc"), lit(0L)) === k &&
          coalesce(col("__fq"), lit(-1.0)) >
            col("__ub_ne").cast("double"))

    // pruned path: candidates that could still reach the top k complete
    // their scores against the common postings (joined once, no fan-out)
    val pq = qstate.filter(col("__prunable"))
      .select(col("query_id"), col("__ub_ne"), col("__fq"))
    val cands = essScores.join(broadcast(pq), Seq("query_id"))
      .filter((col("__essp") + col("__ub_ne")).cast("double") >=
        col("__fq"))
      .select(col("query_id"), col("doc_id"), col("__essp"))
    val neQt = qt.filter(col("__common"))
      .join(broadcast(pq.select(col("query_id"))), Seq("query_id"))
      .select(col("query_id"), col("term"))
    val neT = neQt.select(col("term")).distinct()
    val neMicro = microOf(post.join(broadcast(neT), Seq("term")),
      tstats, stats, k1, b)
    // Complete candidate scores as ONE sum over (essential score row +
    // matched common contributions) — the common postings join touches
    // only candidate docs, and the final aggregate runs doc-partitioned in
    // place (hash(doc_id) clusters (query, doc) groups), so the only
    // pair-keyed relation anywhere is candidate-bounded, never
    // postings x queries.
    val neMatched = cands.join(broadcast(neQt), Seq("query_id"))
      .join(neMicro, Seq("term", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("__micro").as("__m"))
    val fullPruned = cands
      .select(col("query_id"), col("doc_id"), col("__essp").as("__m"))
      .unionByName(neMatched)
      .repartition(col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__m")).as("score_micro"))
    val topPruned = TopK.perGroup(
      fullPruned.withColumn("__s", col("score_micro").cast("double")),
      "query_id", "__s", "doc_id", "doc_id", k)

    // fallback path: the direct full-scoring plan, restricted to the
    // queries the bound could not certify
    val fbQ = qstate.filter(!col("__prunable")).select(col("query_id"))
    val fbQterms = qterms.join(broadcast(fbQ), Seq("query_id"))
    val fbT = fbQterms.select(col("term")).distinct()
    val fbMicro = microOf(post.join(broadcast(fbT), Seq("term")),
      tstats, stats, k1, b)
    val fbScores = fbMicro
      .repartition(col("doc_id"))
      .join(broadcast(fbQterms), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__micro")).as("score_micro"))
    val topFb = TopK.perGroup(
      fbScores.withColumn("__s", col("score_micro").cast("double")),
      "query_id", "__s", "doc_id", "doc_id", k)

    val scoreCol =
      (col("score").cast("long").cast("double") / lit(1e6)).as("score")
    topPruned.unionByName(topFb)
      .join(broadcast(qmap), col("group") === col("__rep"))
      .select(col("__orig_qid").as("query_id"),
        col("tie").as("doc_id"), scoreCol, col("rank"))
  }

  /** Sparse TF-IDF cosine similarity between document PAIRS — the
    * lexical doc-doc near-match pass (plagiarism / boilerplate family
    * detection) next to the set-based n-gram Jaccard in Dedup and the
    * dense embedding cosine in Similarity. idf = ln(N/df) over the
    * df-pruned vocabulary; norms and dots both live in that pruned
    * space, so the df cap (which bounds every posting list, and with it
    * the pair join) is part of the scoring definition, not an
    * approximation bolted on.
    *
    * Shape: one postings pass (text consumed map-side), df table
    * re-aggregated from it; the pair join ships (term, id, weight) rows
    * only, bounded per term by maxDf, then partial-aggregates straight
    * to (idA, idB, dot). Threshold applies to the ROUNDED cosine so an
    * external oracle keeps the identical pair set.
    */
  def tfidfPairs(docs: DataFrame, textCol: String, idCol: String,
                 minDf: Long = 2L, maxDf: Long = 400L,
                 threshold: Double = 0.3): DataFrame = {
    val post = postings(docs, textCol, idCol)
    val n = docs.agg(count(lit(1)).as("__n"))
    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val w = post.join(dfT, Seq("term")).crossJoin(broadcast(n))
      .select(col("term"), col("doc_id"),
        (col("tf").cast("double") *
          log(col("__n").cast("double") / col("df"))).as("w"))
      .materialize
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    // unhinted: the planner broadcasts `w` while it fits the broadcast
    // threshold and shuffles both sides past it
    w.select(col("term"), col("doc_id").as("idA"), col("w").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("idB"), col("w").as("wb")),
        Seq("term"))
      .filter(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB")).agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("idA"), col("norm").as("na")),
        Seq("idA"))
      .join(norms.select(col("doc_id").as("idB"), col("norm").as("nb")),
        Seq("idB"))
      .select(col("idA"), col("idB"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
