package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF, UrlFunctions => UF, VectorFunctions => VF}
import graft.llm.{Bpe, Dedup, Multimodal, Pq, Search, Similarity}
import graft.EntryShared._

/** LLM training-data pipeline depth: semantic/line dedup, BM25/BPE, sketches, sampling, SCD/CDC, graph ranking, selection: q76-q150.
  * Part of the [[SparkEntry]] surface; see EntryShared for
  * the helpers these entries call.
  */
private[graft] object QueriesPipeline {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_semantic_dedup" -> ((s, dir) => {
      // SemDeDup scale path: k-means cells bound the quadratic pair check,
      // self-checked on CONSTRUCTED ground truth — the corpus is unioned
      // with small perturbations of itself (cosine ~0.9998 to the source vs
      // ~0.6 max background on this fixture), so the exact all-pairs dedup
      // at threshold 0.9 drops precisely the perturbed ids and no O(n^2)
      // scan is needed. Two invariants ride with the result: (1) semantic
      // dedup NEVER drops a row exact dedup keeps — within-cell witnesses
      // are global witnesses, a hard 0; (2) >=90% of the planted duplicates
      // are caught, which requires source and copy to share a k-means cell
      // — the property that breaks when centroids ignore data geometry.
      val emb = embeddingsAsDouble(s, dir)
      val d = size(col("embedding"))
      val perturbed = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.02) * element_at(col("embedding"), pmod(i + 1, d) + 1))
          .as("embedding"))
      val corpus = emb.unionByName(perturbed)
      val kept = Dedup.semanticDedup(corpus, "embedding", "vec_id",
          threshold = 0.9, nCentroids = 16, kmeansIters = 3)
        .select(col("vec_id"))
        .materialize
      val semDropped = corpus.select(col("vec_id"))
        .join(kept, Seq("vec_id"), "left_anti")
        .materialize
      // the fixture's exact dropped set: every perturbed id, nothing else
      val exactDropped = emb.select((col("vec_id") + 100000L).as("vec_id"))
      val spurious = semDropped.except(exactDropped)
        .agg(count(lit(1)).as("value"))
        .select(lit("sem_dropped_minus_exact_dropped").as("metric"),
          col("value"))
      val caught = semDropped.join(exactDropped, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("nc"))
      val recall = caught.crossJoin(exactDropped.agg(count(lit(1)).as("ne")))
        .select(lit("dup_recall_pct_ge_90").as("metric"),
          when(col("nc") * 100 >= col("ne") * 90, 1L).otherwise(0L).as("value"))
      val nd = exactDropped.agg(count(lit(1)).as("value"))
        .select(lit("n_exact_dropped").as("metric"), col("value"))
      spurious.union(recall).union(nd).orderBy(col("metric"))
    }),

    "q77_line_dedup" -> ((s, dir) => {
      // RefinedWeb-style line-level boilerplate removal: every document is
      // framed with the same header/footer lines (planted boilerplate) plus
      // its own body; lines occurring in >= 5 distinct docs are stripped and
      // the text reassembled in line order. The oracle recomputes the whole
      // pipeline relationally (split -> distinct-doc line counts -> anti-join
      // -> ordered string_agg), so the comparison is exact end to end.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws("\n", lit("== SHARED HEADER =="), col("text"),
            lit("(c) shared footer")).as("text"))
      Dedup.dedupLines(docs, "text", "doc_id", minDocs = 5)
        .orderBy(col("doc_id"))
    }),

    "q78_bucketed_join" -> ((s, dir) => {
      // co-located join via bucketed layout: both sides are written
      // bucketBy(16, custkey) + sortBy (one file per bucket), so the join
      // plans with NO Exchange and NO Sort — the 100 TB pattern for a fact
      // table joined repeatedly on the same key: the shuffle is paid once
      // at write time and amortized over every later join. BucketingSpec
      // asserts the plan shape; the oracle checks the result against a
      // plain DuckDB join of the source parquet.
      graft.io.Bucketing.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        "graft_bkt_orders", "o_custkey", 16)
      graft.io.Bucketing.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "graft_bkt_customer", "c_custkey", 16)
      graft.io.Bucketing.bucketedJoin(s, "graft_bkt_orders", "o_custkey",
          "graft_bkt_customer", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("c_mktsegment"))
    }),

    "q79_random_projection" -> ((s, dir) => {
      // Johnson-Lindenstrauss reduction (64 -> 32 dims, deterministic
      // Rademacher signs) self-checked on both sides of the margin:
      // (1) planted near-identical pairs (cosine ~0.9998) must KEEP
      // projected cosine >= 0.9 — projection is linear, so a small relative
      // perturbation stays small; (2) among fixed distant pairs
      // (i, i+200 with true cosine < 0.5), >= 90% must stay BELOW 0.9 —
      // the distortion bound working in the other direction. n_planted and
      // n_distant are DuckDB-recomputed (the latter exercises the oracle's
      // own cosine on the same pair population).
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val proj = emb.select(col("vec_id"), col("v"),
        VF.randomProjection(col("v"), 32, seed = 7).as("pv"))
      val d = size(col("v"))
      val planted = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"),
          transform(col("v"), (x, i) =>
            x + lit(0.02) * element_at(col("v"), pmod(i + 1, d) + 1)).as("w"))
        .select(col("vec_id"),
          VF.randomProjection(col("w"), 32, seed = 7).as("pw"))
      val plantedOk = proj.join(planted, Seq("vec_id"))
        .agg(min(when(VF.cosine(col("pv"), col("pw")) >= 0.9, 1L)
          .otherwise(0L)).as("value"))
        .select(lit("planted_preserved_all").as("metric"), col("value"))
      val shifted = proj.select((col("vec_id") - 200L).as("vec_id"),
        col("v").as("v2"), col("pv").as("pv2"))
      val distant = proj.filter(col("vec_id") < 50)
        .join(shifted, Seq("vec_id"))
        .select(VF.cosine(col("v"), col("v2")).as("tc"),
          VF.cosine(col("pv"), col("pv2")).as("pc"))
        .filter(col("tc") < 0.5)
        .materialize
      val sep = distant
        .agg(sum(when(col("pc") < 0.9, 1L).otherwise(0L)).as("ns"),
          count(lit(1)).as("n"))
        .select(lit("distant_separated_pct_ge_90").as("metric"),
          when(col("ns") * 100 >= col("n") * 90, 1L).otherwise(0L).as("value"))
      val nDistant = distant.agg(count(lit(1)).as("value"))
        .select(lit("n_distant").as("metric"), col("value"))
      val nPlanted = planted.agg(count(lit(1)).as("value"))
        .select(lit("n_planted").as("metric"), col("value"))
      plantedOk.union(sep).union(nDistant).union(nPlanted)
        .orderBy(col("metric"))
    }),

    "q80_normalize_text" -> ((s, dir) => {
      // canonical text normalization (NFC + casefold + whitespace collapse):
      // every document is framed with a decomposed spelling ("Cafe" +
      // combining acute U+0301), a compatibility-canonical codepoint
      // (U+212B ANGSTROM SIGN -> U+00C5), and messy whitespace; DuckDB's
      // nfc_normalize + lower + regexp_replace recomputes the identical
      // canonical bytes, so the comparison is exact per document.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.normalizeText(concat(lit("Cafe\u0301  "), col("text"),
            lit("  \u212B troke"))).as("norm_text"))
        .orderBy(col("doc_id"))
    }),

    "q81_sequence_pack" -> ((s, dir) => {
      // training-sequence assembly (concat-and-chop packing): documents in
      // doc_id order within each language, running token count, and chunk
      // id floor(tokens_before / 512) — each chunk is one training
      // sequence. The running count comes from the two-phase distributed
      // prefix sum (PrefixSum.groupedRunningSum): per-task work is bounded
      // by the RANGE-partition size, never by group size — the naive
      // `sum over (partition by lang)` would put an entire language in one
      // task at 100 TB. Oracle recomputes with a plain window cumsum.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("long").as("toks"))
      graft.ops.PrefixSum.groupedRunningSum(docs, "lang", "doc_id",
          col("toks"), "cum_toks")
        .withColumn("seq_id", expr("(cum_toks - toks) div 512"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy(col("lang"), col("seq_id"))
    }),

    "q82_ivf_index" -> ((s, dir) => {
      // persisted ANN index + partition-pruned serving: buildIvfIndex
      // writes the corpus PARTITIONED BY k-means cell (plus a tiny
      // centroid table); queryIvfIndex equi-joins each query's nProbe
      // probed cells against the partition column, so dynamic partition
      // pruning reads only the probed cell directories — the index builds
      // once and every later query batch scans ~nProbe/nCentroids of the
      // corpus. Ground truth as in q72: queries are perturbations of
      // corpus vectors (cosine ~0.995 vs ~0.35 background), top-1 must
      // recover the source through the persisted layout.
      val emb = embeddingsAsDouble(s, dir)
      val root = scratchDir("q82_ivf")
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", root,
        nCentroids = 16, kmeansIters = 3)
      val d = size(col("embedding"))
      val queries = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + lit(0.1) * element_at(col("embedding"), pmod(i + 1, d) + 1))
            .as("embedding"))
      val res = Similarity.queryIvfIndex(s, root, queries, "embedding",
          "vec_id", k = 1, nProbe = 4)
        .filter(col("rank") === 1)
        .materialize
      val hits = res
        .filter(col("neighbor_id") === col("query_id") - 100000L)
        .agg(count(lit(1)).as("nh"))
      val nq = queries.agg(count(lit(1)).as("nq"))
      val recall = hits.crossJoin(nq)
        .select(lit("top1_recall_pct_ge_90").as("metric"),
          when(col("nh") * 100 >= col("nq") * 90, 1L).otherwise(0L).as("value"))
      val nqRow = nq.select(lit("n_queries").as("metric"),
        col("nq").cast("long").as("value"))
      recall.union(nqRow).orderBy(col("metric"))
    }),

    "q83_incremental_dedup" -> ((s, dir) => {
      // incremental ingest dedup against PERSISTED corpus signatures: the
      // signature table is written once (writeMinhashSignatures); a new
      // batch (mutated copies — first 20 chars dropped — of docs 0..49)
      // is checked against it without re-reading any corpus text. The
      // self-check mirrors q23: the banded result must be a SUBSET of the
      // exact batch x corpus pair set at the same threshold (hard 0), with
      // recall >= 90% — all flowing through the persisted layout.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = scratchDir("q83_sigs")
      Dedup.writeMinhashSignatures(docs, "text", "doc_id", s"$root/sigs",
        shingleSize = 3, numHashes = 32)
      // limit(50) is a no-op on the <=50 rows the doc_id<50 point filter
      // keeps at ANY scale factor, but it puts that bound IN-PLAN so the
      // static scale gate can see the broadcast side of the exact check
      // below is batch-sized, not corpus-sized
      val batch = docs.filter(col("doc_id") < 50).limit(50)
        .select((col("doc_id") + 100000L).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      val sigs = s.read.parquet(s"$root/sigs")
      val inc = Dedup.dedupAgainstSignatures(batch, "text", "doc_id", sigs,
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("new_id"), col("existing_id"))
        .materialize
      val bs = batch.select(col("doc_id").as("new_id"),
        Dedup.minhashSignature(col("text"), 3, 32).as("__sigN"))
      val exact = sigs
        .select(col("id").as("existing_id"), col("sig").as("__sigE"))
        .join(broadcast(bs))
        .filter(graft.expressions.TextExpressions.matchFraction(
          col("__sigN"), col("__sigE")) >= 0.5)
        .select(col("new_id"), col("existing_id"))
        .materialize
      val spurious = inc.except(exact)
        .agg(count(lit(1)).as("value"))
        .select(lit("banded_minus_exact_pairs").as("metric"), col("value"))
      val recall = inc.join(exact, Seq("new_id", "existing_id"))
        .agg(count(lit(1)).as("nc"))
        .crossJoin(exact.agg(count(lit(1)).as("ne")))
        .select(lit("recall_pct_ge_90").as("metric"),
          when(col("nc") * 100 >= col("ne") * 90, 1L).otherwise(0L).as("value"))
      val nb = batch.agg(count(lit(1)).as("value"))
        .select(lit("n_batch_docs").as("metric"), col("value"))
      spurious.union(recall).union(nb).orderBy(col("metric"))
    }),

    "q84_heavy_hitters" -> ((s, dir) => {
      // Misra-Gries heavy hitters (k=32, bounded state, mergeable): the MG
      // guarantee — every token with true frequency > N/(k+1) survives ANY
      // partial/merge order — is checked against exact counts; both counts
      // are DuckDB-recomputable from the same tokenization.
      import s.implicits._
      val k = 32
      val toks = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tok"))
        .materialize
      val sketch = toks.as[String]
        .select(graft.ops.TypedAggregators.misraGries(k)).head()
      val total = toks.count()
      val heavy = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .filter(col("c") * (k + 1) > lit(total))
        .select(col("tok")).as[String].collect()
      val allIn = heavy.forall(sketch.contains)
      Seq(
        ("guaranteed_all_in_sketch", if (allIn) 1L else 0L),
        ("n_guaranteed_heavy", heavy.length.toLong),
        ("n_total_tokens", total)
      ).toDF("metric", "value").orderBy(col("metric"))
    }),

    "q85_profile" -> ((s, dir) => {
      // ANALYZE-style column profiling: nulls / exact distinct / min / max
      // for every requested column in ONE aggregate pass (multi-
      // countDistinct expand), unpivoted to long format. The oracle
      // recomputes each column's row independently.
      graft.ops.Profile.summarize(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("column"))
    }),

    "q86_temperature_mix" -> ((s, dir) => {
      // temperature-scaled language balancing (tau=2): head languages are
      // downsampled toward the flattened sqrt-share distribution, tail
      // languages keep 100%; membership is decided by the stable key hash,
      // so the sample is layout- and engine-independent. The oracle
      // recomputes the counts, the sqrt weights, the integer percents, and
      // the per-row hash cut.
      val docs = t(s, dir, "documents")
      val pct = graft.ops.Sampling.temperaturePercents(docs, "lang", tau = 2.0)
      graft.ops.Sampling.mixtureSample(docs, "lang", "doc_id", pct)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q87_doc_chunking" -> ((s, dir) => {
      // context-window chunking (16-token windows, stride 8): map-only
      // explode, every token covered, final window short. The oracle
      // recomputes the windows relationally (range + list_slice).
      TF.chunkDocs(t(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 16, stride = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "q88_quality_checks" -> ((s, dir) => {
      // data-quality expectations as VIOLATION sets: uniqueness violations
      // are planted by duplicating every 997th order, referential orphans
      // by corrupting every 499th order's custkey; both checks must return
      // exactly the planted keys (the oracle recomputes them), and nothing
      // from the clean remainder.
      val orders = t(s, dir, "orders")
      val withDups = orders.unionByName(
        orders.filter(pmod(col("o_orderkey"), lit(997)) === 0))
      val dupKeys = graft.ops.Checks.duplicateKeys(withDups, Seq("o_orderkey"))
        .select(lit("dup_key").as("check"), col("o_orderkey").as("key"),
          col("n_rows").as("n"))
      val corrupted = orders.withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(499)) === 0,
          col("o_custkey") + 10000000L).otherwise(col("o_custkey")))
      val orphanRows = graft.ops.Checks.orphans(corrupted, "o_custkey",
          t(s, dir, "customer"), "c_custkey")
        .select(lit("orphan").as("check"), col("o_orderkey").as("key"),
          lit(1L).as("n"))
      dupKeys.unionByName(orphanRows).orderBy(col("check"), col("key"))
    }),

    "q89_fuzzy_join" -> ((s, dir) => {
      // blocked edit-distance self-join: strings are the documents' first
      // three normalized tokens plus planted single-char typos (ASCII '~'
      // substitution at position 3 — the corpus is pure ASCII, so Spark's
      // codepoint levenshtein and DuckDB's byte levenshtein agree).
      // Symmetric-delete blocking guarantees recall 1 below the bucket
      // cap, so the oracle is the plain ALL-PAIRS levenshtein <= 1 —
      // exact set equality, no flags.
      val phrases = t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(TF.normTokens(col("text")), 1, 3), " ").as("s"))
      val typos = phrases.select((col("doc_id") + 100000L).as("doc_id"),
        concat(substring(col("s"), 1, 2), lit("~"),
          substring(col("s"), 4, 1000000)).as("s"))
      graft.ops.FuzzyJoin.editDistancePairs(
          phrases.unionByName(typos), "s", "doc_id", maxDist = 1)
        .orderBy(col("idA"), col("idB"))
    }),

    "q90_embedding_dedup_clustered" -> ((s, dir) => {
      // cluster-exact embedding dedup: connected components over the LSH
      // near-dup pair graph, smallest id kept per cluster. Fixture as q58
      // (planted perturbed copies, per-pair LSH miss probability ~1e-6 at
      // sigBits=12 x 12 tables), so the survivors must be EXACTLY the
      // original ids — the oracle is a plain scan of embeddings.
      val emb = embeddingsAsDouble(s, dir)
      val d = size(col("embedding"))
      val perturbed = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.1) * element_at(col("embedding"), pmod(i + 1, d) + 1))
          .as("embedding"))
      Dedup.embeddingDedupClustered(emb.unionByName(perturbed),
          "embedding", "vec_id", threshold = 0.9, sigBits = 12, nTables = 12)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "q91_lm_perplexity" -> ((s, dir) => {
      // corpus-trained bigram LM quality scores (CCNet-style): smoothed
      // average log-probability per document. The oracle retrains the
      // identical "model" (two count tables + vocab) and rescoring in
      // DuckDB — counts are exact, the only fp is ln/avg, absorbed by
      // round(4).
      TF.bigramLogProb(t(s, dir, "documents"), "text", "doc_id", addK = 0.5)
        .select(col("doc_id"), round(col("avg_logprob"), 4).as("avg_logprob"),
          col("n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    "q92_training_order" -> ((s, dir) => {
      // epoch-seeded deterministic training order: shuffle position = the
      // exact global rank under a keyed-hash order. Computed with the
      // two-phase prefix-sum decomposition (PrefixSum.globalRank) — range
      // partition + per-partition offsets — never the single-task
      // row_number()-over-everything window.
      val h = graft.ops.Sampling.keyHash(col("doc_id").bitwiseXOR(lit(7L)))
      graft.ops.PrefixSum.globalRank(
          t(s, dir, "documents").select(col("doc_id")),
          Seq(h, col("doc_id")), "pos")
        .select(col("doc_id"), col("pos"))
        .orderBy(col("pos"))
    }),

    "q93_markup_strip" -> ((s, dir) => {
      // web-scrape text extraction: each doc deterministically wrapped in
      // HTML (title/heading/body plus style, script, comment, and entity
      // noise), then stripMarkup must recover the clean prose. The oracle
      // replays the identical construction AND strip chain in DuckDB.
      val html = concat(
        lit("<html><head><title>"), col("source"),
        lit("</title><style>p{margin:0}</style></head><body><!-- nav -->"),
        lit("<h1>Doc &#39;"), col("doc_id").cast("string"),
        lit("&#39;</h1>\n<p>"), substring(col("text"), 1, 200),
        lit("</p>\n<script type=\"text/javascript\">var x=1;</script>"),
        lit("<p>Q&amp;A&nbsp;&lt;here&gt;</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.stripMarkup(html).as("clean"))
        .orderBy(col("doc_id"))
    }),

    "q94_bm25_search" -> ((s, dir) => {
      // BM25 keyword retrieval (decontamination probe / corpus search):
      // posting lists built in one corpus pass, query terms broadcast,
      // per-term scores fixed to integer micro-units before the sum so
      // ranks are float-order-independent (Search.scala scale notes).
      val queries = bm25Queries(s)
      Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id", queries, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q95_scd2_history" -> ((s, dir) => {
      // CDC log -> SCD2 dimension history: consecutive same-attribute
      // events collapse into validity intervals, open interval = current.
      // One shuffle on the key (Scd.scala).
      Scd.scd2History(events(s, dir), "user_id", "event_type", "ts",
          "event_id")
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("long").as("valid_from"),
          col("valid_to").cast("long").as("valid_to"),
          col("version"), col("is_current"))
        .orderBy(col("user_id"), col("version"))
    }),

    "q96_gap_fill" -> ((s, dir) => {
      // time-series regularization: hourly grid per user with
      // forward-filled values — the aggregate reduces the raw stream
      // BEFORE the grid explode, so cost is keys x span, not event volume.
      Resample.gapFillHourly(events(s, dir), "user_id", "ts", "value")
        .select(col("user_id"), col("bucket").cast("long").as("hour_ts"),
          col("v"), col("v_filled"), col("n"), col("is_gap"))
        .orderBy(col("user_id"), col("hour_ts"))
    }),

    "q97_url_canonical" -> ((s, dir) => {
      // URL canonicalization + dedup stats: each doc gets two cosmetically
      // different crawl URLs (case/www/port/tracking-params/fragment
      // variants) that must collapse to ONE canonical form. Map-only
      // codegen'd string ops; the only shuffle is the tiny per-source agg.
      val d = t(s, dir, "documents")
      val v1 = d.select(col("source"), concat(lit("HTTPS://WWW."),
        upper(col("source")), lit(".Example.COM:443/docs/"),
        col("doc_id").cast("string"),
        lit("/?utm_source=feed&b=2&a=1#frag")).as("url"))
      val v2 = d.select(col("source"), concat(lit("https://"),
        col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"),
        lit("?a=1&b=2&utm_campaign=x")).as("url"))
      v1.unionByName(v2)
        .select(col("source"), UF.canonicalizeUrl(col("url")).as("canon"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon")).as("n_canonical"),
          min(col("canon")).as("sample_canon"))
        .orderBy(col("source"))
    }),

    "q98_zorder_value" -> ((s, dir) => {
      // z-order layout kernel: Morton-interleave (custkey, price bucket)
      // and rank orders along the curve — the math zorderWrite clusters
      // files by (ZOrder.scala; layout effectiveness proven in
      // ZOrderSpec against real parquet footers).
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          ZOrder.zValue(
            pmod(col("o_custkey"), lit(4096L)),
            pmod(floor(col("o_totalprice") / 100).cast("long"), lit(4096L)),
            12).as("zval"))
        .orderBy(col("zval"), col("o_orderkey"))
    }),

    "q99_quantile_filter" -> ((s, dir) => {
      // per-language top-20% quality cut (exact percent_rank semantics —
      // the cut point is a rational, never a float threshold; the
      // filter-only approx scale path is proven equivalent-at-accuracy in
      // SamplingSpec).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality"))
      Sampling.topQuantileByGroup(docs, "lang", "quality", "doc_id", 0.8)
        .select(col("doc_id"), col("lang"),
          round(col("quality"), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q100_funnel" -> ((s, dir) => {
      // ordered-sequence funnel (view -> click -> purchase): stage k
      // counts only strictly after stage k-1. Fixed-depth filtered
      // aggregates over thin event slices — no per-user sort of the log
      // (Funnel.scala).
      Funnel.funnelCounts(events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
    }),

    "q101_retention" -> ((s, dir) => {
      // weekly cohort retention: users bucketed by first-activity week,
      // counted once per active week offset. Two aggregates + one equi
      // join, all keyed on user_id.
      val ev = events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          ((col("week").cast("long") - col("cohort_week").cast("long")) /
            lit(604800L)).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_week").cast("long").as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    "q102_oov_rate" -> ((s, dir) => {
      // tokenizer-vocabulary coverage: out-of-vocabulary token rate per
      // doc against the corpus top-20 vocabulary — the coverage check run
      // before committing to a tokenizer. Vocab is tiny and broadcast;
      // rates are exact rationals (0/1 sums), so no float-order risk.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(Search.searchTokens(col("text"))).as("term"))
      val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(20)
        .select(col("term"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(when(col("__in").isNull, 1.0).otherwise(0.0)), 6)
            .as("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    "q103_histogram" -> ((s, dir) => {
      // equi-width histogram with materialized empty buckets
      // (Profile.histogram): two aggregate passes, bucketing is map-side.
      Profile.histogram(t(s, dir, "orders"), "o_totalprice", 20)
        .select(col("bucket"), round(col("lo"), 4).as("lo"),
          round(col("hi"), 4).as("hi"), col("n"))
        .orderBy(col("bucket"))
    }),

    "q104_rolling_window" -> ((s, dir) => {
      // 7-day rolling revenue per customer: a RANGE frame over event-time
      // seconds (q09 covers ROWS frames; RANGE is the time-windowed
      // variant a metrics pipeline uses). One shuffle on the key.
      // o_orderdate is TIMESTAMP_NTZ; in a UTC session the wall-clock
      // equals the UTC instant, so the timestamp hop to epoch is exact.
      val ts = col("o_orderdate").cast("timestamp").cast("long")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(ts)
        .rangeBetween(-6L * 86400L, 0L)
      t(s, dir, "orders")
        .withColumn("rolling_7d", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_orderkey"), col("o_custkey"),
          ts.as("order_ts"),
          round(col("o_totalprice"), 2).as("price"), col("rolling_7d"))
        .orderBy(col("o_orderkey"))
    }),

    "q105_schema_evolution" -> ((s, dir) => {
      // schema-drift ingestion: generation 2 of a feed adds a column;
      // a mergeSchema read presents one schema with generation-1 rows
      // null-filled — the evolving-feed discipline (A15's null-fill
      // applied across file generations). Statically partition-prunable
      // since each generation is its own directory.
      val base = scratchDir("q105_evo")
      val n = t(s, dir, "nation")
      n.select(lit(1L).as("gen"), col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$base/g1")
      n.select(lit(2L).as("gen"), col("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .write.mode("overwrite").parquet(s"$base/g2")
      s.read.option("mergeSchema", "true").parquet(s"$base/g1", s"$base/g2")
        .select(col("gen"), col("n_nationkey"), col("n_name"),
          col("n_regionkey"))
        .orderBy(col("gen"), col("n_nationkey"))
    }),

    "q106_forget_delete" -> ((s, dir) => {
      // right-to-be-forgotten hard delete: tombstoned users anti-join the
      // event log, audit counts prove the purge. The tombstone set is the
      // broadcast side; at 100 TB pair with compaction (q74) to rewrite
      // only affected files.
      val ev = events(s, dir)
      val tomb = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(7L)) === 0)
      ev.join(broadcast(tomb), Seq("user_id"), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    "q107_countmin" -> ((s, dir) => {
      // count-min sketch self-check: one bounded-state aggregate over all
      // token occurrences (96 KiB sketch regardless of stream size), then
      // the CMS guarantees verified against exact counts for the top-100
      // tokens: estimates never under-count, and never over-count by more
      // than ceil((e/w)*N). Deterministic — fixed hash rows, fixed corpus.
      import s.implicits._
      val d = 6; val w = 2048
      val toks = t(s, dir, "documents")
        .select(explode(Search.searchTokens(col("text"))).as("tok"))
        .as[String]
      val sketch = toks.select(TypedAggregators.countMin(d, w).name("sk"))
        .collect()(0).toIndexedSeq
      val nTotal = sketch.slice(0, w).sum // each row sums to the stream size
      val bound = math.ceil(math.E / w * nTotal).toLong
      val top = toks.toDF("tok").groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(100).collect()
      val ests = top.map { r =>
        val c = r.getLong(1)
        val est = TypedAggregators.CountMin.estimate(sketch, d, w, r.getString(0))
        (est >= c, est <= c + bound)
      }
      Seq((ests.length.toLong,
        ests.count(!_._1).toLong, ests.count(!_._2).toLong))
        .toDF("n_checked", "n_underestimates", "n_over_bound")
    }),

    "q108_quantile_bins" -> ((s, dir) => {
      // quantile discretization (feature binning): decile bin per language
      // by quality score — ntile's floor-division split is engine-exact,
      // so bins match the oracle bit-for-bit.
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality"))
        .withColumn("bin", ntile(10).over(w).cast("long"))
        .select(col("doc_id"), col("lang"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    "q109_tokenize_ids" -> ((s, dir) => {
      // tokenize-to-ids: corpus vocabulary ranked by (freq desc, term),
      // each doc rendered as its token-id sequence — the final encoding
      // step before training. The vocab is broadcast; order restored with
      // the sort_array(struct(pos, id)) idiom (no ordered collect_list in
      // Spark); ids serialized to a string so the oracle compare stays
      // scalar.
      val toks = t(s, dir, "documents").select(col("doc_id"),
        posexplode(Search.searchTokens(col("text"))).as(Seq("pos", "term")))
      // vocab ids via the two-phase global ranker (PrefixSum.globalRank) —
      // a web-scale vocab never funnels through one ranking task
      val vocab = graft.ops.PrefixSum.globalRank(
          toks.groupBy(col("term")).agg(count(lit(1)).as("tf")),
          Seq(col("tf").desc, col("term")), "id")
        .select(col("term"), col("id"))
      ScaleChecks.boundedDomain(toks.join(broadcast(vocab), Seq("term")),
          "per-document token-id sequence: the encoded document is the " +
            "deliverable, buffer bounded by max document length, " +
            "independent of corpus size",
          budget = 1000000L)
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("id")))),
          e => e.getField("id").cast("string")), " ").as("ids"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q110_funnel_windowed" -> ((s, dir) => {
      // conversion-window funnel: stage k counts only within 3 days of
      // stage k-1 — the attribution-window variant of q100.
      Funnel.funnelCounts(events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapSeconds = Some(259200L))
    }),

    "q111_agg_merge" -> ((s, dir) => {
      // re-aggregatable metrics: daily partials (sum/count/min/max as
      // DECIMAL so partial-sum order is exact) merged into monthly equal
      // the direct monthly aggregate — the algebra every incremental
      // rollup pipeline depends on. The oracle computes the DIRECT
      // monthly aggregate; hash-equality proves the merge.
      val daily = t(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"),
          col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      daily
        .groupBy(date_trunc("month", col("day")).cast("timestamp")
          .cast("long").as("month_ts"), col("o_orderpriority"))
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx"))
        .select(col("month_ts"), col("o_orderpriority"),
          col("s").cast("double").as("sum_price"), col("n").as("n_orders"),
          round(col("mn"), 2).as("min_price"),
          round(col("mx"), 2).as("max_price"),
          // avg truncated to 4 dp via exact integer arithmetic: round()
          // on a quotient is engine-divergent exactly at half boundaries
          // (hit twice at sf0.1); floor of an exact-integer ratio is not
          (floor((col("s") * 10000).cast("long").cast("double") / col("n"))
            / lit(10000.0)).as("avg_price"))
        .orderBy(col("month_ts"), col("o_orderpriority"))
    }),

    "q112_shard_plan" -> ((s, dir) => {
      // training-shard export plan: deterministic hash order, 5000-token
      // shards, summarized per shard. Rank and running total both come
      // from the two-phase prefix-sum machinery — no global-window task
      // (Sharding.scala).
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      val h = graft.ops.Sampling.keyHash(col("doc_id").bitwiseXOR(lit(13L)))
      Sharding.shardAssignments(docs, Seq(h, col("doc_id")),
          col("n_tokens"), 5000L)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
        .orderBy(col("shard_id"))
    }),

    "q113_corpus_report" -> ((s, dir) => {
      // dataset-card corpus report: per source — doc/token volume, mean
      // quality, language spread, exact-dup count. One aggregate pass.
      // The exact-dup term distincts the 8-byte xxhash64 fingerprint, NOT
      // the raw text: Spark's distinct rewrite keys its first aggregate by
      // (group, distinct-col), so countDistinct(text) would carry full
      // document bodies through the Expand and the exchange — the row-width
      // anti-pattern the runtime audit hunts. A 64-bit fingerprint is
      // collision-free at any verifiable scale (and is exactly q19's
      // exact-dedup key).
      t(s, dir, "documents")
        .select(col("source"), col("lang"),
          xxhash64(col("text")).as("__fp"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          TF.qualityScore(col("text")).as("quality"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(avg(col("quality")), 6).as("avg_quality"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(col("__fp"))).as("n_dup_docs"))
        .orderBy(col("source"))
    }),

    "q114_pipeline_e2e" -> ((s, dir) => {
      // end-to-end curation pipeline in ONE declarative chain: per-language
      // quality cut (top 80%) -> exact dedup (min-id survivor, fingerprint
      // groupBy) -> deterministic hash order -> 5000-token shard plan.
      // Every stage is an engine operator; Catalyst fuses the whole flow —
      // this is the "switch your pipeline to this library" demonstration.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("quality", TF.qualityScore(col("text")))
      val cut = Sampling.topQuantileByGroup(docs, "lang", "quality",
        "doc_id", 0.8)
      val deduped = Dedup.exact(cut, "text", "doc_id")
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      val h = graft.ops.Sampling.keyHash(col("doc_id").bitwiseXOR(lit(29L)))
      Sharding.shardAssignments(deduped, Seq(h, col("doc_id")),
          col("n_tokens"), 5000L)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard_id"))
    }),

    "q115_char_entropy" -> ((s, dir) => {
      // character-entropy gibberish filter: native one-pass histogram per
      // doc (the relational form explodes |text| rows per doc); the
      // low-entropy flag compares on the ROUNDED value so both engines
      // cut identically.
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TF.charEntropy(col("text")), 6).as("entropy"))
        .withColumn("low_entropy", col("entropy") < 3.0)
        .orderBy(col("doc_id"))
    }),

    "q116_bm25_index" -> ((s, dir) => {
      // index-at-rest BM25: term-sorted postings written once, the query
      // batch served through the persisted layout — its scan reads only
      // query-term row groups (In(term) pushed; WarehouseOpsSpec asserts
      // the PushedFilters and ad-hoc parity). Zero corpus passes per
      // batch.
      import s.implicits._
      val idx = scratchDir("q116_idx")
      Search.writeSearchIndex(t(s, dir, "documents"), "text", "doc_id", idx)
      val queries = Seq(
        (1L, "merge batch row"),
        (2L, "filter group vector"),
        (3L, "slow table scan")).toDF("query_id", "query_text")
      Search.querySearchIndex(s, idx, queries, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q117_image_neardup" -> ((s, dir) => {
      // perceptual-hash near-dup screening, self-checked (q24's pattern):
      // 40 deterministic payloads + exact copies; the pigeonhole-blocked
      // pair set must equal the exact O(n^2) Hamming pair set (recall-1
      // guarantee) and contain every planted copy pair. All three output
      // facts are invariants, so the oracle states them from the corpus
      // size alone.
      val base = t(s, dir, "documents").orderBy(col("doc_id")).limit(40)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("payload"))
      val copies = base.select((col("id") + 100000L).as("id"), col("payload"))
      val payloads = base.unionByName(copies)
      val hashes = Multimodal.perceptualHashes(payloads, "id", "payload")
        .materialize
      val blocked = Dedup.hammingPairs(hashes, "phash", "id", maxHamming = 0)
        .select(col("idA"), col("idB"))
      val l = hashes.select(col("id").as("idA"), col("phash").as("pa"))
      val r = hashes.select(col("id").as("idB"), col("phash").as("pb"))
      val exact = l.join(broadcast(r), col("idA") < col("idB"))
        .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) === 0)
        .select(col("idA"), col("idB"))
      val planted = base.select(col("id").as("idA"),
        (col("id") + 100000L).as("idB"))
      payloads.agg(count(lit(1)).as("n_payloads"))
        .crossJoin(broadcast(
          blocked.exceptAll(exact).unionAll(exact.exceptAll(blocked))
            .agg((count(lit(1)) === 0).as("blocked_eq_exact"))))
        .crossJoin(broadcast(
          planted.exceptAll(blocked)
            .agg((count(lit(1)) === 0).as("planted_all_found"))))
    }),

    "q118_table_diff" -> ((s, dir) => {
      // snapshot reconciliation: version 2 of orders drops every 97th key,
      // bumps every 13th price, and inserts a copy of every 101st row
      // under a new key — the diff must classify exactly. One full-outer
      // join on the key (Diff.scala).
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val kept = base.filter(pmod(col("o_orderkey"), lit(97L)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(13L)) === 0,
            col("o_totalprice") + 1.5).otherwise(col("o_totalprice")))
      val inserted = base.filter(pmod(col("o_orderkey"), lit(101L)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      Diff.diffSummary(base, kept.unionByName(inserted),
        Seq("o_orderkey"), Seq("o_custkey", "o_totalprice"))
    }),

    "q119_table_diff_pruned" -> ((s, dir) => {
      // checksum-pruned reconciliation (the 100 TB diff path): bucket
      // fingerprints first, row-level join only for disagreeing buckets,
      // agreeing buckets credited to `unchanged` from counts alone. Same
      // classification contract as q118, proven by this oracle and by
      // WarehouseOpsSpec's pruned==full parity.
      val base = t(s, dir, "lineitem")
        .groupBy((col("l_orderkey") * 10 + col("l_linenumber")).as("k"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      val next = base.filter(pmod(col("k"), lit(211L)) =!= 0)
        .withColumn("qty",
          when(pmod(col("k"), lit(89L)) === 0, col("qty") + 5.0)
            .otherwise(col("qty")))
      Diff.diffSummaryPruned(base, next, Seq("k"), Seq("qty"),
        nBuckets = 512)
    }),

    "q120_cluster_longest" -> ((s, dir) => {
      // dedup representative policy: within each near-dup cluster keep
      // the LONGEST member (tie to smallest id) — the practical survivor
      // rule when near-dups are truncations. argmax via max(struct(len,
      // -id)) — a plain aggregate over labeled nodes, no window.
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
          n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"))
      Dedup.connectedComponents(pairs)
        .join(corpus, col("id") === col("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(length(col("text")).as("len"),
            (-col("doc_id")).as("negid"))).as("__m"))
        .select(col("component"), (-col("__m.negid")).as("keep_id"),
          col("__m.len").cast("long").as("keep_len"), col("n_members"))
        .orderBy(col("component"))
    }),

    "q121_repeated_spans" -> ((s, dir) => {
      // exact-substring dedup signal (Lee et al.): every 8-token window is
      // hashed; windows whose hash repeats anywhere in the corpus merge
      // into maximal duplicated spans per doc. Planted repeats: every 7th
      // doc gets a companion that is its first 200 chars twice over — the
      // companion is self-repetitive AND shares its windows with the base
      // doc. Only the 8-byte window hash shuffles for the frequency pass.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.filter(pmod(col("doc_id"), lit(7L)) === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat_ws(" ", substring(col("text"), 1, 200),
            substring(col("text"), 1, 200)).as("text"))
      Dedup.repeatedSpanStats(d.unionByName(planted), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    "q122_leakage_safe_split" -> ((s, dir) => {
      // leakage-safe train/val/test split: the 80/10/10 hash cut is taken
      // on the near-dup CLUSTER label (q65's components), so a document
      // can never sit in train while its near-duplicate sits in eval.
      // Output: per-split doc and cluster counts, plus how many docs a
      // naive doc-id split would have placed differently — the leakage
      // surface the operator closes.
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
          n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"))
      val split = Dedup.splitByCluster(corpus, "doc_id", pairs,
        Seq(80, 10, 10), labelCol = Some("cluster"))
      val naive = Sampling.splitByKey(
        split.select(col("doc_id"), col("split"), col("cluster")),
        "doc_id", Seq(80, 10, 10), outCol = "naive_split")
      naive.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(when(col("naive_split") =!= col("split"), 1L).otherwise(0L))
            .as("n_moved_vs_naive"))
        .orderBy(col("split"))
    }),

    "q123_cdc_apply" -> ((s, dir) => {
      // MERGE INTO / upsert: apply a CDC changelog to the customer
      // snapshot — per key the highest-sequence row wins, op D deletes,
      // I/U upsert, untouched keys pass through. Changelog derived from
      // orders (seq = o_orderkey; every 1000th order keys a brand-new
      // customer to exercise inserts). One partial-agg max_by + one
      // full-outer join (Diff.cdcApply).
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
      val log = t(s, dir, "orders").select(
        (col("o_custkey") +
          when(pmod(col("o_orderkey"), lit(1000L)) === 7, 1000000L)
            .otherwise(0L)).as("c_custkey"),
        col("o_orderkey").as("seq"),
        when(pmod(col("o_orderkey"), lit(10L)) === 0, "D")
          .when(pmod(col("o_orderkey"), lit(10L)) < 5, "U")
          .otherwise("I").as("op"),
        concat(lit("upd_"), col("o_orderkey").cast("string")).as("c_name"),
        round(col("o_totalprice"), 2).as("c_acctbal"))
      Diff.cdcApply(base, log, Seq("c_custkey"), "seq", "op")
        .orderBy(col("c_custkey"))
    }),

    "q124_k_anonymity" -> ((s, dir) => {
      // k-anonymity release gate: rows whose quasi-identifier combination
      // (nation, market segment) is shared by < 10 customers are
      // suppressed before release. Output: per-group sizes of the rows
      // that actually survived the row-level gate — if the semi-join
      // passed anything it shouldn't, the counts diverge from the oracle's
      // HAVING recomputation.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      Checks.kAnonymous(c, Seq("c_nationkey", "c_mktsegment"), k = 10)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    "q125_interval_join" -> ((s, dir) => {
      // interval-overlap join with BOTH sides large: view and click events
      // each become 60 s half-open activity windows; pairs that overlap in
      // time join via grid-bin equi-join (5 min bins) with responsibility-
      // bin dedup — one bin-key shuffle per side, no nested loop, no
      // distinct (ops/IntervalJoin.scala).
      val ev = events(s, dir)
      def side(tpe: String, id: String, st: String, en: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("event_id").as(id), unix_micros(col("ts")).as(st),
            (unix_micros(col("ts")) + 60000000L).as(en))
      IntervalJoin.overlapJoin(
          side("view", "idA", "sA", "eA"),  "sA", "eA",
          side("click", "idB", "sB", "eB"), "sB", "eB",
          binSize = 300000000L)
        .select(col("idA"), col("idB"),
          (least(col("eA"), col("eB")) - greatest(col("sA"), col("sB")))
            .as("overlap_us"))
        .orderBy(col("idA"), col("idB"))
    }),

    "q126_bpe_train" -> ((s, dir) => {
      // BPE tokenizer induction: the corpus collapses to a (word, freq)
      // vocabulary first (the 100 TB trick — every merge round then runs
      // on vocab-sized data), 12 merges learned distributed. Self-check
      // vs the single-JVM reference on the SAME vocab (collected — oracle
      // fixture only), plus DuckDB-checkable corpus stats; merge freqs
      // must be non-increasing (a merge can never create a pair more
      // frequent than the max it replaced).
      import s.implicits._
      val vocab = Bpe.wordFreq(t(s, dir, "documents").select(col("text")),
        "text").materialize
      // collectThreshold = 0: this query IS the distributed-path parity
      // witness — the adaptive bounded-collect short-circuit (which other
      // callers get by default) must not reduce the check to local==local
      val dist = Bpe.learnMerges(vocab, numMerges = 12, collectThreshold = 0)
      val local = Bpe.learnMergesLocal(
        vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 12)
      val stats = vocab.agg(count(lit(1)).as("dw"), sum(col("freq")).as("tw"))
        .collect().head
      val matches = dist.zip(local).count { case (d, l) =>
        d.left == l.left && d.right == l.right && d.freq == l.freq }
      val noninc = dist.map(_.freq).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1))
      Seq(
        ("distinct_words", stats.getLong(0)),
        ("merge_freqs_nonincreasing", if (noninc) 1L else 0L),
        ("merges_learned", dist.length.toLong),
        ("merges_match_reference", matches.toLong),
        ("total_word_occurrences", stats.getLong(1))
      ).toDF("metric", "value").orderBy(col("metric"))
    }),

    "q127_bpe_encode" -> ((s, dir) => {
      // corpus-level subword encode with the learned merge table: the
      // zero-shuffle expression chain must agree with the single-JVM
      // reference on EVERY document (collected for the oracle fixture
      // only), and subword count can never exceed chars+words (each
      // merge only shrinks a word's token sequence).
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val vocab = Bpe.wordFreq(docs, "text").materialize
      val merges = Bpe.learnMerges(vocab, numMerges = 12)
      val enc = Bpe.encode(docs, "text", merges, "toks")
        .select(col("doc_id"), col("text"), col("toks"))
        .collect()
      val nMatch = enc.count { r =>
        r.getSeq[String](2) == Bpe.encodeLocal(r.getString(1), merges) }
      val bounded = enc.forall { r =>
        val words = r.getString(1).trim.split("\\s+").count(_.nonEmpty)
        r.getSeq[String](2).length <=
          r.getString(1).codePointCount(0, r.getString(1).length) + words
      }
      Seq(
        ("docs_encoded", enc.length.toLong),
        ("docs_match_reference", nMatch.toLong),
        ("tokens_bounded_by_chars_plus_words", if (bounded) 1L else 0L)
      ).toDF("metric", "value").orderBy(col("metric"))
    }),

    "q128_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 keyword top-10 and embedding cosine top-10
      // fused by reciprocal-rank fusion (score = sum 1/(60+rank), held as
      // exact integer micro-units so the fused order is float-free). The
      // RAG-stack ranking primitive: each system ranks independently,
      // fusion is one tiny union + aggregate over <= 2k rows per query.
      val queries = bm25Queries(s)
      val lex = Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          queries, 10)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast("long").as("rank"))
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), emb,
          "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rank"))
      val contrib = lex.unionByName(sem)
        .select(col("query_id"), col("doc_id"),
          expr("1000000 div (60 + rank)").as("c"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("rrf_micro"), col("doc_id"))
      contrib.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_systems"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q129_scd2_join" -> ((s, dir) => {
      // fact-to-dimension as-of join: each purchase picks the user's
      // view-value band (SCD2 interval) in force at purchase time;
      // purchases before the user's first view keep a null band (left
      // join). Equi-join on the key + interval prune (Scd.dimensionJoin).
      val ev = events(s, dir)
      val dim = ev.filter(col("event_type") === "view")
        .withColumn("band", when(col("value") >= 30.0, "high")
          .otherwise("low"))
      val hist = Scd.scd2History(dim, "user_id", "band", "ts", "event_id")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Scd.dimensionJoin(facts, hist, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("fact_ts"), col("band"), col("version"),
          col("valid_from").cast("long").as("valid_from"))
        .orderBy(col("event_id"))
    }),

    "q130_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS + grouping() markers (the general form
      // rollup/cube specialize); identical SQL text runs on both engines
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(groupingSetsSql)
    }),

    "q131_pq_ann" -> ((s, dir) => {
      // product quantization (IVF-PQ's compression half): 64-dim floats
      // -> 8 codes over 16-codeword codebooks (32x smaller); ADC top-1
      // over the CODES must recover planted scaled copies (cosine exactly
      // 1 -> near-identical codes -> ADC distance ~0, every other pair
      // far). Scale shape: training on a bounded sample trains all 8
      // subspaces in one aggregate per round; scoring never touches the
      // original vectors.
      import s.implicits._
      val emb = embeddingsAsDouble(s, dir)
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.05)).as("embedding"))
      val corpus = emb.unionByName(planted)
      val cb = Pq.train(corpus, "embedding", "vec_id", m = 8, k = 16,
        iters = 3)
      val codes = Pq.encode(corpus, "embedding", "vec_id", cb)
        .materialize
      val queries = emb.filter(col("vec_id") < 20)
      val hits = Pq.adcTopK(queries, codes, "embedding", "vec_id", cb,
          kNn = 1)
        .filter(col("neighbor_id") === col("query_id") + 100000L)
        .count()
      val nq = queries.count()
      Seq(
        ("codes_per_vector", cb.m.toLong),
        ("n_queries", nq),
        ("n_vectors", corpus.count()),
        ("top1_planted_recall_pct_ge_90",
          if (hits * 100 >= nq * 90) 1L else 0L)
      ).toDF("metric", "value").orderBy(col("metric"))
    }),

    "q132_ivfpq_ann" -> ((s, dir) => {
      // the full IVF-PQ serving path end-to-end: spherical-k-means cells
      // + PQ codes built into one index; each query probes 8/32 cells and
      // ADC-scores only those codes. Planted scaled copies (cosine
      // exactly 1 -> same probed cell, near-identical codes) must come
      // back top-1.
      import s.implicits._
      val emb = embeddingsAsDouble(s, dir)
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.05)).as("embedding"))
      val corpus = emb.unionByName(planted)
      val cb = Pq.train(corpus, "embedding", "vec_id", m = 8, k = 16,
        iters = 2)
      val cents = Similarity.trainSphericalKMeans(corpus, "embedding",
        "vec_id", nCentroids = 32, iters = 2)
      val index = Pq.buildIvfPqIndex(corpus, "embedding", "vec_id", cb,
          cents)
        .materialize
      val queries = emb.filter(col("vec_id") < 20)
      val hits = Pq.ivfPqTopK(queries, index, "embedding", "vec_id", cb,
          cents, kNn = 1, nProbe = 8)
        .filter(col("neighbor_id") === col("query_id") + 100000L)
        .count()
      val nq = queries.count()
      Seq(
        ("n_cells", 32L),
        ("n_queries", nq),
        ("probe_fraction_pct", 25L),
        ("top1_planted_recall_pct_ge_90",
          if (hits * 100 >= nq * 90) 1L else 0L)
      ).toDF("metric", "value").orderBy(col("metric"))
    }),

    "q133_negative_sample" -> ((s, dir) => {
      // contrastive-training negatives: 5 deterministic pseudo-random
      // negatives per query doc, drawn from the query's hash bucket via
      // an equi-join (no query x corpus cross product), ranked by the
      // engine-portable keyHash — same negatives on any engine or layout.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Sampling.negativeSample(docs.filter(col("doc_id") < 10), "doc_id",
          docs, "doc_id", k = 5, nBuckets = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q134_pagerank" -> ((s, dir) => {
      // weighted PageRank over the per-user item-transition graph (items =
      // the JSON `k` prop, edges = consecutive items in a user's event
      // sequence): the link-analysis quality signal web-scale corpus
      // pipelines rank hosts/items with. Fixed 5 damped iterations with
      // dangling-mass redistribution — deterministic and engine-portable.
      val ev = userItemEvents(s, dir)
      val edges = ev.withColumn("src", lag(col("item"), 1).over(byUser))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .groupBy(col("src"), col("item").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      graft.ops.Graph.pageRank(edges, nIter = 5, damping = 0.85)
        .select(col("node"), round(col("pr") * 1000, 6).as("pr_permille"),
          col("in_deg"), col("out_deg"))
        .orderBy(col("node"))
    }),

    "q135_mad_outliers" -> ((s, dir) => {
      // robust per-key outlier screen (median/MAD rule): the value column
      // is heavy-tailed, so the 3-sigma-equivalent MAD cut flags the real
      // tail. Both engines compute medians, deviations, and the threshold
      // product on identical doubles, so the boolean cut agrees bitwise.
      graft.ops.Outliers.madFlag(
          ScaleChecks.boundedDomain(
            events(s, dir).select(col("event_type"), col("value")),
            "event value is a cent-quantized grid bounded by its range " +
              "(~56k cells); distinct saturates, it does not track rows",
            budget = 56000L),
          "event_type", "value", z = 3.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          round(min(col("med")), 6).as("med"),
          round(min(col("mad")), 6).as("mad"),
          round(max(col("abs_dev")), 6).as("max_abs_dev"))
        .orderBy(col("event_type"))
    }),

    "q136_dim_stats" -> ((s, dir) => {
      // per-dimension mean/std over the embedding corpus — the
      // standardization/whitening prep pass. posexplode + groupBy(dim)
      // looks like a dims-x-rows shuffle but is NOT: HashAggregate's
      // map-side partials collapse each task to 64 rows before the
      // exchange, so the shuffle is 64 rows per task at any corpus size.
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select((col("pos") + 1).cast("long").as("dim"),
          col("x").cast("double").as("x"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 6).as("mean_x"),
          round(stddev_pop(col("x")), 6).as("std_x"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"))
        .orderBy(col("dim"))
    }),

    "q137_drift_psi" -> ((s, dir) => {
      // PSI drift gate between corpus snapshots: reference = even
      // event_ids, candidate = odd event_ids with a planted 1.25x unit
      // shift — the broken-upstream-feed scenario the monitor exists to
      // catch. Identical longs -> identical smoothed shares on both
      // engines; only ln() is libm-dependent, absorbed by round(6).
      val ev = events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val ref = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val cur = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .withColumn("value", col("value") * lit(1.25))
      graft.ops.Drift.psi(ref, cur, "event_type", "value",
          binWidth = 25.0, nBins = 10)
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(col("psi"), 6).as("psi"))
        .orderBy(col("event_type"))
    }),

    "q138_quality_classifier" -> ((s, dir) => {
      // CCNet-style linear quality/language classifier trained ON the
      // cluster: 3 full-batch logistic GD epochs, each ONE aggregate over
      // the corpus (model broadcasts as literals, gradient = dim
      // partial-agg sums). Output: learned coefficients + training-set
      // log-loss/accuracy, all replayed by the oracle's unrolled updates.
      import s.implicits._
      val (feat, cols, w) = classifierModel(s, dir)
      val ev = graft.ops.LinearModel.logisticEval(feat, cols, "y", w).head()
      (cols.zipWithIndex.map { case (c, i) => (i.toLong, c, w(i)) } ++
        Seq((4L, "__log_loss", ev.getDouble(0)),
          (5L, "__accuracy", ev.getDouble(1))))
        .toDF("coef_id", "feature", "weight")
        .withColumn("weight", round(col("weight"), 6))
        .orderBy(col("coef_id"))
    }),

    "q139_coverage_select" -> ((s, dir) => {
      // greedy maximum-coverage selection: the 5 docs that together cover
      // the most distinct token 3-grams (submodular data-selection step —
      // "pick a diverse subset"). 3-grams, not tokens: the fixture's
      // vocabulary is 31 words and one doc covers it all (the early-stop
      // case GraphSelectionSpec pins); the 3-gram universe is large
      // enough for 5 real rounds. covered_total = running window sum
      // (gains are disjoint by construction).
      val toks = TF.normTokens(col("text"))
      val grams = when(size(toks) < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2), element_at(toks, i + 3))))
      val terms = t(s, dir, "documents")
        .select(col("doc_id"), explode(grams).as("item"))
      graft.ops.Selection.greedyMaxCover(terms, 5)
        .select(col("round"), col("id").as("doc_id"), col("gain"))
        .withColumn("covered_total",
          sum(col("gain")).over(Window.orderBy(col("round"))))
        .orderBy(col("round"))
    }),

    "q140_exact_stratified" -> ((s, dir) => {
      // exactly-100-doc validation sample matching the corpus language
      // mix: largest-remainder quotas (integer-exact, no float shares) +
      // engine-portable keyHash draw order within each stratum
      Sampling.exactStratifiedSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id", 100L)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    "q141_join_size" -> ((s, dir) => {
      // join-cardinality planning statistic: exact sum(cntA*cntB) over the
      // per-key count tables + the deterministic 1-in-8 keyHash key-sample
      // estimate, both from ONE aggregate — the broadcast-vs-shuffle and
      // skew decision input, without running the join
      graft.ops.Profile.joinSizeStats(
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey", sampleMod = 8)
    }),

    "q142_label_prop" -> ((s, dir) => {
      // annotate-one-doc-per-cluster, spread to the rest: originals carry
      // lang seeds, mutated near-dup copies (+100000) take the majority
      // neighbor label along the 3-gram Jaccard pair graph; 2 monotone
      // rounds (round = the frontier distance from a seed)
      val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "text",
          "doc_id", n = 3, threshold = 0.3, maxShingleFreq = 400)
        .select(col("idA"), col("idB"))
      val seeds = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      graft.ops.Graph.labelPropagate(pairs, seeds, nIter = 2)
        .filter(col("round") > 0)
        .select(col("id").as("doc_id"), col("label"), col("round"))
        .orderBy(col("doc_id"))
    }),

    "q143_pmi_bigrams" -> ((s, dir) => {
      // collocation mining: top-20 adjacent-token pairs by PMI (ranked on
      // the ROUNDED score + lexicographic tiebreak so ln() ulps can't
      // flip the order) — the phrase-detection / tokenizer-vocab pass.
      // The final window ranks the bounded bigram-stats table, not rows.
      val docs = t(s, dir, "documents")
        .select(TF.normTokens(col("text")).as("toks"))
      graft.ops.Collocations.pmiBigrams(docs, "toks", minCount = 5L)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pmi").desc, col("w1"), col("w2"))).cast("long"))
        .filter(col("rank") <= 20)
        .orderBy(col("rank"))
    }),

    "q144_calibration" -> ((s, dir) => {
      // reliability diagram for the q138 classifier: decile-bin the
      // predicted probability, compare mean prediction vs observed
      // positive rate per bin — the "is the quality score a probability
      // or just a ranking" audit. One aggregate over the scored corpus.
      val (feat, cols, w) = classifierModel(s, dir)
      val z = cols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      feat.withColumn("p", lit(1.0) / (lit(1.0) + exp(-z)))
        .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("p")), 6).as("avg_p"),
          round(avg(col("y")), 6).as("frac_pos"))
        .orderBy(col("bin"))
    }),

    "q145_weighted_wor" -> ((s, dir) => {
      // Efraimidis-Spirakis weighted sampling WITHOUT replacement: the 30
      // largest u^(1/w) keys (u deterministic from keyHash, w = quality +
      // 0.1) are an exact weighted no-replacement draw — the "pick N docs
      // favoring quality, no duplicates, reproducible anywhere" op that
      // Bernoulli q63 can't express (it can't hit a fixed N).
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("w", col("quality") + lit(0.1))
      Sampling.weightedSampleWithoutReplacement(docs, "doc_id", "w", 30)
        .select(col("doc_id"), col("lang"),
          round(col("quality"), 6).as("quality"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q146_correlated_scalar" -> ((s, dir) => {
      // TPC-H Q17 shape: correlated scalar subquery (per-partkey average
      // gates the outer rows); identical SQL text on both engines —
      // Catalyst decorrelates into aggregate + join
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(correlatedScalarSql)
    }),

    "q147_exists_chain" -> ((s, dir) => {
      // TPC-H Q21 shape: EXISTS + NOT EXISTS correlated chain -> semi +
      // anti joins after decorrelation; identical SQL text on both engines
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "supplier").createOrReplaceTempView("supplier")
      s.sql(existsChainSql)
    }),

    "q148_assoc_rules" -> ((s, dir) => {
      // market-basket association rules over per-user event property
      // baskets (a-priori pruned: only items clearing the 20% relative
      // support floor enter pair generation). Top-30 rules by ROUNDED
      // lift + lexicographic tiebreak — engine-portable order.
      val baskets = events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      graft.ops.Association.pairRules(baskets, "user_id", "item", 0.2)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("lift").desc, col("antecedent"),
            col("consequent"))).cast("long"))
        .filter(col("rank") <= 30)
        .orderBy(col("rank"))
    }),

    "q149_chi2_terms" -> ((s, dir) => {
      // chi-squared feature selection: top-5 class-identifying tokens per
      // language by the 2x2 contingency statistic over doc-level presence
      // — ranked on the ROUNDED score + token tiebreak. Counts-only after
      // one explode; class totals broadcast.
      val docs = t(s, dir, "documents")
        .select(col("lang"), TF.normTokens(col("text")).as("toks"))
      graft.ops.FeatureSelection.chi2Terms(docs, "lang", "toks", minDocFreq = 5L)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("cls"))
            .orderBy(col("chi2").desc, col("term"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("cls").as("lang"), col("term"), col("n_ct"),
          col("chi2"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    "q150_naive_bayes" -> ((s, dir) => {
      // generative counterpart to the q138 logistic classifier:
      // multinomial naive Bayes lang-id trained on the doc_id%5<4 split,
      // confusion matrix on the held-out fifth. Scores are rounded before
      // the per-doc argmax (lang tiebreak) so both engines rank alike.
      val norm = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TF.normTokens(col("text")).as("toks"))
      val train = norm.filter(col("doc_id") % 5 < 4)
      val ev = norm.filter(col("doc_id") % 5 === 4)
      val sc = graft.ops.NaiveBayes.scores(train, ev, "doc_id", "lang", "toks")
      val pred = sc.withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("cls"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cls").as("pred_lang"))
      ev.select(col("doc_id"), col("lang").as("true_lang"))
        .join(pred, Seq("doc_id"))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_lang"), col("pred_lang"))
    })

  )

  val oracles: Map[String, String] = Map(
    "q76_semantic_dedup" ->
      """SELECT 'dup_recall_pct_ge_90' AS metric, CAST(1 AS BIGINT) AS value
        |UNION ALL SELECT 'n_exact_dropped', CAST(count(*) AS BIGINT)
        |           FROM embeddings
        |UNION ALL SELECT 'sem_dropped_minus_exact_dropped', CAST(0 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q77_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    concat('== SHARED HEADER ==', chr(10), text, chr(10),
        |           '(c) shared footer') AS text FROM documents),
        |s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(ls) AS line,
        |             unnest(range(1, len(ls) + 1)) AS pos FROM s),
        |b AS (SELECT line FROM l GROUP BY line
        |      HAVING count(DISTINCT doc_id) >= 5),
        |k AS (SELECT doc_id, line, pos FROM l ANTI JOIN b USING (line)),
        |a AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
        |        AS clean_text FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q78_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q79_random_projection" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |dp AS (SELECT a.vec_id,
        |         list_dot_product(a.v, b.v) /
        |           (sqrt(list_dot_product(a.v, a.v)) *
        |            sqrt(list_dot_product(b.v, b.v))) AS tc
        |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 200
        |       WHERE a.vec_id < 50)
        |SELECT 'distant_separated_pct_ge_90' AS metric,
        |       CAST(1 AS BIGINT) AS value
        |UNION ALL SELECT 'n_distant', CAST(count(*) AS BIGINT)
        |           FROM dp WHERE tc < 0.5
        |UNION ALL SELECT 'n_planted', CAST(count(*) AS BIGINT)
        |           FROM embeddings WHERE vec_id < 20
        |UNION ALL SELECT 'planted_preserved_all', CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q80_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(
        |    'Cafe' || chr(769) || '  ' || text || '  ' || chr(8491)
        |    || ' troke')), '\s+', ' ', 'g')) AS norm_text
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q81_sequence_pack" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len($toksSql) AS BIGINT) AS toks FROM documents),
         |c AS (SELECT doc_id, lang, toks,
         |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
         |  FROM d),
         |x AS (SELECT lang, CAST((cum - toks) // 512 AS BIGINT) AS seq_id, toks FROM c)
         |SELECT lang, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens
         |FROM x GROUP BY lang, seq_id
         |ORDER BY lang, seq_id""".stripMargin,

    "q82_ivf_index" ->
      """SELECT 'n_queries' AS metric, CAST(count(*) AS BIGINT) AS value
        |FROM embeddings WHERE vec_id < 20
        |UNION ALL SELECT 'top1_recall_pct_ge_90', CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q83_incremental_dedup" ->
      """SELECT 'banded_minus_exact_pairs' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'n_batch_docs', CAST(count(*) AS BIGINT)
        |           FROM documents WHERE doc_id < 50
        |UNION ALL SELECT 'recall_pct_ge_90', CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q84_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest($ntoksSql) AS tok FROM documents),
         |ex AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |tot AS (SELECT count(*) AS n FROM tk)
         |SELECT 'guaranteed_all_in_sketch' AS metric, CAST(1 AS BIGINT) AS value
         |UNION ALL SELECT 'n_guaranteed_heavy',
         |  CAST((SELECT count(*) FROM ex WHERE c * 33 > (SELECT n FROM tot)) AS BIGINT)
         |UNION ALL SELECT 'n_total_tokens', CAST((SELECT n FROM tot) AS BIGINT)
         |ORDER BY metric""".stripMargin,

    "q85_profile" ->
      """SELECT 'o_custkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_val FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(min(o_orderkey) AS VARCHAR),
        |  CAST(max(o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(min(o_orderpriority) AS VARCHAR),
        |  CAST(max(o_orderpriority) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(min(o_orderstatus) AS VARCHAR),
        |  CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        |ORDER BY "column"""".stripMargin,

    "q86_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |t AS (SELECT sum(n) AS total FROM c),
         |w AS (SELECT lang, n, sqrt(n * 1.0 / total) AS wg FROM c, t),
         |sw AS (SELECT sum(wg) AS s FROM w),
         |p AS (SELECT lang,
         |        CAST(least(100, round(100.0 * (wg / s) * total / n)) AS BIGINT)
         |          AS pct
         |      FROM w, sw, t)
         |SELECT doc_id, d.lang FROM documents d JOIN p USING (lang)
         |WHERE (${graft.ops.Sampling.keyHashSql("doc_id")}) % 100 < pct
         |ORDER BY doc_id""".stripMargin,

    "q87_doc_chunking" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |         unnest(range(0, CAST(len(toks) AS BIGINT), 8)) AS s
         |       FROM d WHERE len(toks) > 0)
         |SELECT doc_id, CAST(s // 8 AS BIGINT) AS chunk_id,
         |  array_to_string(list_slice(toks, s + 1, s + 16), ' ') AS chunk_text,
         |  CAST(least(16, len(toks) - s) AS BIGINT) AS n_chunk_tokens
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "q88_quality_checks" ->
      """WITH dup AS (
        |  SELECT o_orderkey FROM orders
        |  UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 997 = 0),
        |dk AS (SELECT 'dup_key' AS "check", o_orderkey AS key,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM dup GROUP BY o_orderkey HAVING count(*) > 1),
        |bad AS (SELECT o_orderkey,
        |          CASE WHEN o_orderkey % 499 = 0 THEN o_custkey + 10000000
        |               ELSE o_custkey END AS ck
        |        FROM orders),
        |orph AS (SELECT 'orphan' AS "check", o_orderkey AS key,
        |           CAST(1 AS BIGINT) AS n
        |         FROM bad ANTI JOIN customer ON ck = c_custkey)
        |SELECT * FROM dk UNION ALL SELECT * FROM orph
        |ORDER BY "check", key""".stripMargin,

    "q89_fuzzy_join" ->
      s"""WITH p0 AS (SELECT doc_id,
         |    array_to_string(list_slice($ntoksSql, 1, 3), ' ') AS s
         |  FROM documents),
         |p AS (SELECT doc_id, s FROM p0
         |      UNION ALL
         |      SELECT doc_id + 100000,
         |        concat(substring(s, 1, 2), '~', substring(s, 4, 1000000))
         |      FROM p0)
         |SELECT a.doc_id AS idA, b.doc_id AS idB,
         |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM p a JOIN p b ON a.doc_id < b.doc_id
         |WHERE levenshtein(a.s, b.s) <= 1
         |ORDER BY idA, idB""".stripMargin,

    "q90_embedding_dedup_clustered" ->
      """SELECT vec_id FROM embeddings ORDER BY vec_id""",

    "q91_lm_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, $ntoksSql AS toks FROM documents),
         |d AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
         |bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |             FROM d)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
         |v AS (SELECT count(DISTINCT w2) AS v FROM bi)
         |SELECT doc_id,
         |  round(avg(ln((c12 + 0.5) / (c1 + 0.5 * v))), 4) AS avg_logprob,
         |  CAST(count(*) AS BIGINT) AS n_bigrams
         |FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q92_training_order" ->
      s"""SELECT doc_id,
         |  row_number() OVER (
         |    ORDER BY ${graft.ops.Sampling.keyHashSql("xor(doc_id, 7)")},
         |      doc_id) AS pos
         |FROM documents ORDER BY pos""".stripMargin,

    "q93_markup_strip" ->
      s"""WITH h AS (SELECT doc_id,
         |  '<html><head><title>' || source ||
         |  '</title><style>p{margin:0}</style></head><body><!-- nav -->' ||
         |  '<h1>Doc &#39;' || CAST(doc_id AS VARCHAR) ||
         |  '&#39;</h1>' || chr(10) || '<p>' || substr(text, 1, 200) ||
         |  '</p>' || chr(10) ||
         |  '<script type="text/javascript">var x=1;</script>' ||
         |  '<p>Q&amp;A&nbsp;&lt;here&gt;</p></body></html>' AS html
         |  FROM documents)
         |SELECT doc_id, ${TF.stripMarkupSql("html")} AS clean
         |FROM h ORDER BY doc_id""".stripMargin,

    "q94_bm25_search" -> bm25OracleSql(
      "(1, 'spark window agg'), (2, 'vector scan batch'), (3, 'customer stream query')"),

    "q95_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ch AS (SELECT * FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS valid_from,
        |  CAST(floor(extract(epoch FROM lead(ts) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS valid_to,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |    AS is_current
        |FROM ch ORDER BY user_id, version""".stripMargin,

    "q96_gap_fill" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    round(avg(value), 4) AS v, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |         FROM b GROUP BY user_id),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM span),
        |j AS (SELECT g.user_id, g.bucket, b.v, coalesce(b.n, 0) AS n,
        |        coalesce(b.n, 0) = 0 AS is_gap
        |      FROM grid g LEFT JOIN b
        |        ON g.user_id = b.user_id AND g.bucket = b.bucket)
        |SELECT user_id, CAST(extract(epoch FROM bucket) AS BIGINT) AS hour_ts,
        |  v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  n, is_gap
        |FROM j ORDER BY user_id, hour_ts""".stripMargin,

    "q97_url_canonical" ->
      s"""WITH u AS (
         |  SELECT source, 'HTTPS://WWW.' || upper(source) ||
         |    '.Example.COM:443/docs/' || CAST(doc_id AS VARCHAR) ||
         |    '/?utm_source=feed&b=2&a=1#frag' AS url
         |  FROM documents
         |  UNION ALL
         |  SELECT source, 'https://' || source || '.example.com/docs/' ||
         |    CAST(doc_id AS VARCHAR) || '?a=1&b=2&utm_campaign=x' AS url
         |  FROM documents),
         |c AS (SELECT source, ${UF.canonicalizeUrlSql("url")} AS canon FROM u)
         |SELECT source, count(*) AS n_urls,
         |  count(DISTINCT canon) AS n_canonical, min(canon) AS sample_canon
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q98_zorder_value" ->
      s"""SELECT o_orderkey,
         |  ${ZOrder.zValueSql("(o_custkey % 4096)",
            "(CAST(floor(o_totalprice / 100) AS BIGINT) % 4096)", 12)} AS zval
         |FROM orders ORDER BY zval, o_orderkey""".stripMargin,

    "q99_quantile_filter" ->
      s"""${qualityCteSql(", lang")},
         |r AS (SELECT doc_id, lang, quality,
         |    percent_rank() OVER (PARTITION BY lang
         |      ORDER BY quality, doc_id) AS pr
         |  FROM q)
         |SELECT doc_id, lang, round(quality, 6) AS quality
         |FROM r WHERE pr >= 0.8 ORDER BY doc_id""".stripMargin,

    "q100_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage_name,
        |  count(*) AS n_users, CAST(NULL AS DOUBLE) AS avg_secs_from_prev
        |FROM s1
        |UNION ALL
        |SELECT 2, 'click', count(*),
        |  round(avg(epoch(s2.t) - epoch(s1.t)), 2)
        |FROM s2 JOIN s1 USING (user_id)
        |UNION ALL
        |SELECT 3, 'purchase', count(*),
        |  round(avg(epoch(s3.t) - epoch(s2.t)), 2)
        |FROM s3 JOIN s2 USING (user_id)
        |ORDER BY stage_idx""".stripMargin,

    "q101_retention" ->
      """WITH w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |           FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id)
        |SELECT CAST(floor(extract(epoch FROM cohort_week)) AS BIGINT) AS cohort_week,
        |  CAST((extract(epoch FROM week) - extract(epoch FROM cohort_week))
        |    / 604800 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q102_oov_rate" ->
      """WITH tk AS (SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        |    FROM documents) WHERE term <> ''),
        |v AS (SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rn
        |    FROM tk GROUP BY term) WHERE rn <= 20)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(CASE WHEN v.term IS NULL THEN 1.0 ELSE 0.0 END), 6)
        |    AS oov_rate
        |FROM tk LEFT JOIN v ON tk.term = v.term
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q103_histogram" ->
      """WITH s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |           FROM orders),
        |b AS (SELECT least(19, CAST(floor((o_totalprice - s.lo) /
        |    (CASE WHEN s.hi = s.lo THEN 1.0 ELSE s.hi - s.lo END) * 20)
        |    AS BIGINT)) AS bucket
        |  FROM orders, s),
        |cnt AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
        |g AS (SELECT range AS bucket FROM range(20))
        |SELECT g.bucket,
        |  round(s.lo + g.bucket * (s.hi - s.lo) / 20, 4) AS lo,
        |  round(s.lo + (g.bucket + 1) * (s.hi - s.lo) / 20, 4) AS hi,
        |  coalesce(cnt.n, 0) AS n
        |FROM g LEFT JOIN cnt USING (bucket) CROSS JOIN s
        |ORDER BY g.bucket""".stripMargin,

    "q104_rolling_window" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) AS order_ts,
        |  round(o_totalprice, 2) AS price,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW), 2) AS rolling_7d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q105_schema_evolution" ->
      """SELECT CAST(1 AS BIGINT) AS gen, n_nationkey, n_name,
        |  CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT 2, n_nationkey, n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation
        |ORDER BY gen, n_nationkey""".stripMargin,

    "q106_forget_delete" ->
      """SELECT event_type, count(*) AS n_kept,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 7 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q107_countmin" ->
      """WITH tk AS (SELECT term FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        |    FROM documents) WHERE term <> '')
        |SELECT least(100, count(DISTINCT term)) AS n_checked,
        |  CAST(0 AS BIGINT) AS n_underestimates,
        |  CAST(0 AS BIGINT) AS n_over_bound
        |FROM tk""".stripMargin,

    "q108_quantile_bins" ->
      s"""${qualityCteSql(", lang")}
         |SELECT doc_id, lang,
         |  CAST(ntile(10) OVER (PARTITION BY lang
         |    ORDER BY quality, doc_id) AS BIGINT) AS bin
         |FROM q ORDER BY doc_id""".stripMargin,

    "q109_tokenize_ids" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS ts
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(ts) AS term,
        |         unnest(range(len(ts))) AS pos
        |       FROM toks),
        |v AS (SELECT term,
        |    row_number() OVER (ORDER BY count(*) DESC, term) AS id
        |  FROM tk GROUP BY term)
        |SELECT doc_id,
        |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids,
        |  count(*) AS n_tokens
        |FROM tk JOIN v USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q110_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND epoch(e.ts) <= epoch(s1.t) + 259200 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND epoch(e.ts) <= epoch(s2.t) + 259200 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage_name,
        |  count(*) AS n_users, CAST(NULL AS DOUBLE) AS avg_secs_from_prev
        |FROM s1
        |UNION ALL
        |SELECT 2, 'click', count(*),
        |  round(avg(epoch(s2.t) - epoch(s1.t)), 2)
        |FROM s2 JOIN s1 USING (user_id)
        |UNION ALL
        |SELECT 3, 'purchase', count(*),
        |  round(avg(epoch(s3.t) - epoch(s2.t)), 2)
        |FROM s3 JOIN s2 USING (user_id)
        |ORDER BY stage_idx""".stripMargin,

    "q111_agg_merge" ->
      """SELECT
        |  CAST(floor(extract(epoch FROM date_trunc('month', o_orderdate)))
        |    AS BIGINT) AS month_ts,
        |  o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_orders,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 10000 AS BIGINT)
        |    * 1.0 / count(*)) / 10000.0 AS avg_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q112_shard_plan" ->
      s"""WITH n AS (SELECT doc_id, len($ntoksSql) AS ntok FROM documents),
         |r AS (SELECT doc_id, ntok,
         |    sum(ntok) OVER (ORDER BY ${Sampling.keyHashSql("xor(doc_id, 13)")},
         |      doc_id) AS cum,
         |    row_number() OVER (ORDER BY ${Sampling.keyHashSql("xor(doc_id, 13)")},
         |      doc_id) AS pos
         |  FROM n)
         |SELECT CAST(floor((cum - ntok) / 5000.0) AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  min(pos) AS first_pos, max(pos) AS last_pos
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q113_corpus_report" ->
      s"""${qualityCteSql(", lang, source")},
         |d AS (SELECT source, count(*) - count(DISTINCT text) AS n_dup_docs
         |      FROM documents GROUP BY source)
         |SELECT q.source, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  round(avg(quality), 6) AS avg_quality,
         |  count(DISTINCT lang) AS n_langs,
         |  min(d.n_dup_docs) AS n_dup_docs
         |FROM q JOIN d ON q.source = d.source
         |GROUP BY q.source ORDER BY q.source""".stripMargin,

    "q114_pipeline_e2e" ->
      s"""${qualityCteSql(", lang")},
         |cut AS (
         |  SELECT x.doc_id, ntok FROM (
         |    SELECT doc_id, ntok,
         |      percent_rank() OVER (PARTITION BY lang
         |        ORDER BY quality, doc_id) AS pr
         |    FROM q) x WHERE pr >= 0.8),
         |ded AS (
         |  SELECT c.doc_id, c.ntok FROM cut c JOIN (
         |    SELECT min(d.doc_id) AS doc_id
         |    FROM cut JOIN documents d USING (doc_id)
         |    GROUP BY d.text) k ON c.doc_id = k.doc_id),
         |r AS (SELECT doc_id, ntok,
         |    sum(ntok) OVER (ORDER BY ${Sampling.keyHashSql("xor(doc_id, 29)")},
         |      doc_id) AS cum
         |  FROM ded)
         |SELECT CAST(floor((cum - ntok) / 5000.0) AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q115_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[\s\S]')) AS c
        |  FROM documents),
        |f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        |nn AS (SELECT doc_id, sum(cnt) AS n FROM f GROUP BY doc_id),
        |e AS (SELECT f.doc_id,
        |    -sum((cnt * 1.0 / n) * ln(cnt * 1.0 / n)) AS ent
        |  FROM f JOIN nn USING (doc_id) GROUP BY f.doc_id)
        |SELECT d.doc_id, round(coalesce(e.ent, 0.0), 6) AS entropy,
        |  round(coalesce(e.ent, 0.0), 6) < 3.0 AS low_entropy
        |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q116_bm25_index" -> bm25OracleSql(
      "(1, 'merge batch row'), (2, 'filter group vector'), (3, 'slow table scan')"),

    "q117_image_neardup" ->
      """SELECT CAST(2 * least(40, (SELECT count(*) FROM documents)) AS BIGINT)
        |    AS n_payloads,
        |  true AS blocked_eq_exact,
        |  true AS planted_all_found""".stripMargin,

    "q118_table_diff" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |nxt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 101 = 0),
        |j AS (SELECT
        |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN b.o_custkey IS DISTINCT FROM n.o_custkey
        |           OR b.o_totalprice IS DISTINCT FROM n.o_totalprice
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM base b FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey)
        |SELECT change_type, count(*) AS n FROM j
        |GROUP BY change_type ORDER BY change_type""".stripMargin,

    "q119_table_diff_pruned" ->
      """WITH base AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    round(sum(l_quantity), 2) AS qty
        |  FROM lineitem GROUP BY 1),
        |nxt AS (
        |  SELECT k, CASE WHEN k % 89 = 0 THEN qty + 5.0
        |                 ELSE qty END AS qty
        |  FROM base WHERE k % 211 <> 0),
        |j AS (SELECT
        |    CASE WHEN b.k IS NULL THEN 'added'
        |         WHEN n.k IS NULL THEN 'removed'
        |         WHEN b.qty IS DISTINCT FROM n.qty THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM base b FULL OUTER JOIN nxt n ON b.k = n.k)
        |SELECT change_type, count(*) AS n FROM j
        |GROUP BY change_type HAVING count(*) > 0
        |ORDER BY change_type""".stripMargin,

    "q120_cluster_longest" ->
      s"""WITH RECURSIVE $ngramPairsCtes,
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT idA AS id FROM pairs UNION ALL SELECT idB FROM pairs)),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB, idA FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |labels AS (SELECT src AS id, min(dst) AS component
         |           FROM reach GROUP BY src),
         |mem AS (SELECT l.component, d.doc_id, len(d.text) AS len
         |        FROM labels l JOIN docs d ON l.id = d.doc_id),
         |rr AS (SELECT component, doc_id, len,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY len DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY component) AS n_members
         |  FROM mem)
         |SELECT component, doc_id AS keep_id, CAST(len AS BIGINT) AS keep_len,
         |  n_members
         |FROM rr WHERE rn = 1 ORDER BY component""".stripMargin,

    "q121_repeated_spans" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000, substr(text, 1, 200) || ' ' || substr(text, 1, 200)
         |  FROM documents WHERE doc_id % 7 = 0),
         |norm AS (SELECT doc_id, $ntoksSql AS ntoks FROM corpus),
         |w AS (SELECT doc_id, unnest(range(len(ntoks) - 7)) AS pos, ntoks
         |      FROM norm WHERE len(ntoks) >= 8),
         |g AS (SELECT doc_id, pos,
         |        array_to_string(ntoks[pos+1:pos+8], ' ') AS g FROM w),
         |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
         |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
         |m AS (SELECT doc_id, pos,
         |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
         |        lag(pos)  OVER (PARTITION BY doc_id ORDER BY pos) AS prv
         |      FROM dp),
         |agg AS (SELECT doc_id, count(*) AS n_dup_windows,
         |        sum(CASE WHEN nxt IS NULL THEN 8
         |                 ELSE least(8, nxt - pos) END) AS covered,
         |        sum(CASE WHEN prv IS NULL OR pos - prv > 8
         |                 THEN 1 ELSE 0 END) AS n_spans
         |      FROM m GROUP BY doc_id)
         |SELECT n.doc_id, CAST(len(n.ntoks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  round(coalesce(a.covered, 0) * 1.0 /
         |        greatest(len(n.ntoks), 1), 6) AS dup_frac
         |FROM norm n LEFT JOIN agg a USING (doc_id)
         |ORDER BY n.doc_id""".stripMargin,

    "q122_leakage_safe_split" ->
      s"""WITH RECURSIVE $ngramPairsCtes,
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT idA AS id FROM pairs UNION ALL SELECT idB FROM pairs)),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB, idA FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS doc_id, min(dst) AS component
         |         FROM reach GROUP BY src),
         |lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
         |        FROM docs d LEFT JOIN comp c USING (doc_id)),
         |s AS (SELECT doc_id, cluster,
         |  CASE WHEN (${graft.ops.Sampling.keyHashSql("cluster")}) % 100 < 80 THEN 0
         |       WHEN (${graft.ops.Sampling.keyHashSql("cluster")}) % 100 < 90 THEN 1
         |       ELSE 2 END AS split,
         |  CASE WHEN (${graft.ops.Sampling.keyHashSql("doc_id")}) % 100 < 80 THEN 0
         |       WHEN (${graft.ops.Sampling.keyHashSql("doc_id")}) % 100 < 90 THEN 1
         |       ELSE 2 END AS naive_split
         |  FROM lab)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT cluster) AS n_clusters,
         |  CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved_vs_naive
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "q123_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_custkey + CASE WHEN o_orderkey % 1000 = 7
        |      THEN 1000000 ELSE 0 END AS c_custkey,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |         WHEN o_orderkey % 10 < 5 THEN 'U' ELSE 'I' END AS op,
        |    'upd_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    round(o_totalprice, 2) AS c_acctbal
        |  FROM orders),
        |latest AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY seq DESC) AS rn FROM log) WHERE rn = 1),
        |base AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        |         FROM customer)
        |SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
        |  CASE WHEN l.op IS NOT NULL THEN l.c_acctbal ELSE b.c_acctbal END
        |    AS c_acctbal
        |FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
        |WHERE l.op IS DISTINCT FROM 'D'
        |ORDER BY c_custkey""".stripMargin,

    "q124_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |HAVING count(*) >= 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q125_interval_join" ->
      """WITH a AS (SELECT event_id AS idA, epoch_us(ts) AS sA,
        |    epoch_us(ts) + 60000000 AS eA FROM events
        |  WHERE event_type = 'view'),
        |b AS (SELECT event_id AS idB, epoch_us(ts) AS sB,
        |    epoch_us(ts) + 60000000 AS eB FROM events
        |  WHERE event_type = 'click')
        |SELECT idA, idB, least(eA, eB) - greatest(sA, sB) AS overlap_us
        |FROM a JOIN b ON sA < eB AND sB < eA
        |ORDER BY idA, idB""".stripMargin,

    "q126_bpe_train" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS word FROM documents)
         |SELECT 'distinct_words' AS metric,
         |  (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM w) AS value
         |UNION ALL SELECT 'merge_freqs_nonincreasing', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'merges_learned', CAST(12 AS BIGINT)
         |UNION ALL SELECT 'merges_match_reference', CAST(12 AS BIGINT)
         |UNION ALL SELECT 'total_word_occurrences',
         |  (SELECT CAST(count(*) AS BIGINT) FROM w)
         |ORDER BY metric""".stripMargin,

    "q127_bpe_encode" ->
      """SELECT 'docs_encoded' AS metric,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS value
        |UNION ALL SELECT 'docs_match_reference',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |UNION ALL SELECT 'tokens_bounded_by_chars_plus_words',
        |  CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q128_hybrid_rrf" ->
      s"""WITH ${bm25Ctes(
             "(1, 'spark window agg'), (2, 'vector scan batch'), (3, 'customer stream query')")},
         |bm AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
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
         |sem AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
         |        FROM cr WHERE rank <= 10),
         |u AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM bm
         |      UNION ALL
         |      SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM sem),
         |g AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
         |        count(*) AS n_systems FROM u GROUP BY 1, 2),
         |f AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_micro DESC, doc_id) AS rank FROM g)
         |SELECT query_id, doc_id, rrf_micro, n_systems, rank
         |FROM f WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q129_scd2_join" ->
      """WITH d AS (SELECT user_id, event_id, ts,
        |    CASE WHEN value >= 30.0 THEN 'high' ELSE 'low' END AS band
        |  FROM events WHERE event_type = 'view'),
        |e AS (SELECT user_id, event_id, ts, band,
        |    lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM d),
        |ch AS (SELECT * FROM e WHERE rn = 1 OR prev IS DISTINCT FROM band),
        |h AS (SELECT user_id, band, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |  FROM ch),
        |f AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id,
        |  CAST(floor(extract(epoch FROM f.ts)) AS BIGINT) AS fact_ts,
        |  h.band, h.version,
        |  CAST(floor(extract(epoch FROM h.valid_from)) AS BIGINT) AS valid_from
        |FROM f LEFT JOIN h ON f.user_id = h.user_id
        |  AND h.valid_from <= f.ts AND (h.valid_to IS NULL OR h.valid_to > f.ts)
        |ORDER BY f.event_id""".stripMargin,

    "q130_grouping_sets" -> groupingSetsSql,

    "q131_pq_ann" ->
      """SELECT 'codes_per_vector' AS metric, CAST(8 AS BIGINT) AS value
        |UNION ALL SELECT 'n_queries',
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 20)
        |UNION ALL SELECT 'n_vectors',
        |  (SELECT CAST(count(*) + 20 AS BIGINT) FROM embeddings)
        |UNION ALL SELECT 'top1_planted_recall_pct_ge_90', CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q132_ivfpq_ann" ->
      """SELECT 'n_cells' AS metric, CAST(32 AS BIGINT) AS value
        |UNION ALL SELECT 'n_queries',
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 20)
        |UNION ALL SELECT 'probe_fraction_pct', CAST(25 AS BIGINT)
        |UNION ALL SELECT 'top1_planted_recall_pct_ge_90', CAST(1 AS BIGINT)
        |ORDER BY metric""".stripMargin,

    "q133_negative_sample" ->
      s"""WITH c AS (SELECT doc_id,
         |    (${graft.ops.Sampling.keyHashSql("doc_id")}) % 8 AS b,
         |    (${graft.ops.Sampling.keyHashSql("doc_id")}) AS h
         |  FROM documents),
         |q AS (SELECT doc_id AS query_id,
         |    (${graft.ops.Sampling.keyHashSql("doc_id")}) % 8 AS b
         |  FROM documents WHERE doc_id < 10),
         |j AS (SELECT q.query_id, c.doc_id AS neg_id, c.h
         |      FROM q JOIN c USING (b) WHERE c.doc_id <> q.query_id),
         |r AS (SELECT query_id, neg_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY h, neg_id) AS rank FROM j)
         |SELECT query_id, neg_id, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q134_pagerank" ->
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |sq AS (SELECT item,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (SELECT src, item AS dst, CAST(count(*) AS DOUBLE) AS w
         |  FROM sq WHERE src IS NOT NULL AND src <> item GROUP BY src, item),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
         |contrib AS (SELECT e.src, e.dst, e.w / o.ow AS frac
         |  FROM edges e JOIN outw o USING (src)),
         |p0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
         |${(1 to 5).map(i => prIterSql(i, i - 1)).mkString(",\n")},
         |deg AS (SELECT n.node, COALESCE(i.d, 0) AS in_deg,
         |    COALESCE(o.d, 0) AS out_deg
         |  FROM nodes n
         |  LEFT JOIN (SELECT dst AS node, count(*) AS d FROM edges
         |             GROUP BY dst) i ON i.node = n.node
         |  LEFT JOIN (SELECT src AS node, count(*) AS d FROM edges
         |             GROUP BY src) o ON o.node = n.node)
         |SELECT p5.node, round(p5.pr * 1000, 6) AS pr_permille,
         |  CAST(deg.in_deg AS BIGINT) AS in_deg,
         |  CAST(deg.out_deg AS BIGINT) AS out_deg
         |FROM p5 JOIN deg USING (node) ORDER BY p5.node""".stripMargin,

    "q135_mad_outliers" ->
      """WITH med AS (SELECT event_type, median(value) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (SELECT e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS ad
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, median(ad) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * m.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(min(d.med), 6) AS med, round(min(m.mad), 6) AS mad,
        |  round(max(d.ad), 6) AS max_abs_dev
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q136_dim_stats" ->
      """WITH u AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |SELECT CAST(pos AS BIGINT) AS dim, count(*) AS n,
        |  round(avg(x), 6) AS mean_x, round(stddev_pop(x), 6) AS std_x,
        |  round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
        |FROM u GROUP BY pos ORDER BY dim""".stripMargin,

    "q137_drift_psi" ->
      """WITH src AS (SELECT event_type, value, event_id % 2 AS side
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    CAST(greatest(least(floor(
        |      CASE WHEN side = 1 THEN value * 1.25 ELSE value END / 25.0),
        |      9), 0) AS INT) AS bin, side
        |  FROM src),
        |c AS (SELECT event_type, bin,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cc
        |  FROM b GROUP BY event_type, bin),
        |t AS (SELECT event_type, bin, cr, cc,
        |    sum(cr) OVER (PARTITION BY event_type) AS nr,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c),
        |p AS (SELECT event_type, nr, nc,
        |    ((cr + 0.5)/(nr + 5.0) - (cc + 0.5)/(nc + 5.0)) *
        |      ln(((cr + 0.5)/(nr + 5.0)) / ((cc + 0.5)/(nc + 5.0))) AS term
        |  FROM t)
        |SELECT event_type, CAST(min(nr) AS BIGINT) AS n_ref,
        |  CAST(min(nc) AS BIGINT) AS n_cur, round(sum(term), 6) AS psi
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q138_quality_classifier" ->
      s"""WITH $lrCtes,
        |ev AS (SELECT avg(-(y*ln(p) + (1.0-y)*ln(1.0-p))) AS log_loss,
        |    avg(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END) AS acc
        |  FROM scored)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS coef_id, 'f_bias' AS feature,
        |    round(w0, 6) AS weight FROM w3_
        |  UNION ALL SELECT 1, 'f_len', round(w1, 6) FROM w3_
        |  UNION ALL SELECT 2, 'f_space', round(w2, 6) FROM w3_
        |  UNION ALL SELECT 3, 'f_digit', round(w3, 6) FROM w3_
        |  UNION ALL SELECT 4, '__log_loss', round(log_loss, 6) FROM ev
        |  UNION ALL SELECT 5, '__accuracy', round(acc, 6) FROM ev
        |) ORDER BY coef_id""".stripMargin,

    "q139_coverage_select" ->
      s"""WITH terms AS (SELECT DISTINCT id, item FROM (
         |    SELECT id, unnest(CASE WHEN len(ntoks) < 3 THEN []
         |      ELSE list_transform(range(len(ntoks) - 2),
         |        i -> ntoks[i+1] || ' ' || ntoks[i+2] || ' ' || ntoks[i+3])
         |      END) AS item
         |    FROM (SELECT doc_id AS id, $ntoksSql AS ntoks FROM documents))),
         |${(1 to 5).map(coverRoundSql).mkString(",\n")}
         |SELECT round, id AS doc_id, gain,
         |  CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
         |FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, id, gain FROM w1
         |  UNION ALL SELECT 2, id, gain FROM w2
         |  UNION ALL SELECT 3, id, gain FROM w3
         |  UNION ALL SELECT 4, id, gain FROM w4
         |  UNION ALL SELECT 5, id, gain FROM w5
         |) ORDER BY round""".stripMargin,

    "q140_exact_stratified" ->
      s"""WITH counts AS (SELECT lang, count(*) AS cnt
         |  FROM documents GROUP BY lang),
         |q AS (SELECT lang, cnt, sum(cnt) OVER () AS total,
         |    (100 * cnt) // sum(cnt) OVER () AS base,
         |    100 * cnt - ((100 * cnt) // sum(cnt) OVER ()) * sum(cnt) OVER ()
         |      AS rem
         |  FROM counts),
         |q2 AS (SELECT lang, base,
         |    row_number() OVER (ORDER BY rem DESC, lang) AS rrank,
         |    100 - sum(base) OVER () AS leftover
         |  FROM q),
         |quotas AS (SELECT lang,
         |    base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END AS quota
         |  FROM q2),
         |ranked AS (SELECT d.lang, d.doc_id,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY ${graft.ops.Sampling.keyHashSql("d.doc_id")}, d.doc_id)
         |      AS rk
         |  FROM documents d)
         |SELECT r.lang, r.doc_id FROM ranked r JOIN quotas USING (lang)
         |WHERE r.rk <= quota ORDER BY r.lang, r.doc_id""".stripMargin,

    "q141_join_size" ->
      s"""WITH ca AS (SELECT o_orderkey AS key, count(*) AS ca
         |  FROM orders GROUP BY 1),
         |cb AS (SELECT l_orderkey AS key, count(*) AS cb
         |  FROM lineitem GROUP BY 1),
         |j AS (SELECT key, ca.ca * cb.cb AS p FROM ca JOIN cb USING (key))
         |SELECT count(*) AS n_common_keys,
         |  CAST(sum(p) AS BIGINT) AS join_rows,
         |  CAST(sum(CASE WHEN (${graft.ops.Sampling.keyHashSql("key")}) % 8 = 0
         |           THEN p ELSE 0 END) * 8 AS BIGINT) AS est_join_rows,
         |  CAST(max(p) AS BIGINT) AS max_per_key,
         |  round(avg(p), 6) AS avg_per_key
         |FROM j""".stripMargin,

    "q142_label_prop" ->
      s"""WITH $ngramPairsCtes,
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB, idA FROM pairs),
         |seeds AS (SELECT doc_id AS id, lang AS label FROM documents),
         |v1 AS (SELECT e.b AS id, s.label, count(*) AS c
         |       FROM edges e JOIN seeds s ON e.a = s.id
         |       WHERE e.b NOT IN (SELECT id FROM seeds)
         |       GROUP BY e.b, s.label),
         |w1 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (PARTITION BY id
         |         ORDER BY c DESC, label) AS rn FROM v1) WHERE rn = 1),
         |lab1 AS (SELECT id, label FROM seeds
         |         UNION ALL SELECT id, label FROM w1),
         |v2 AS (SELECT e.b AS id, l.label, count(*) AS c
         |       FROM edges e JOIN lab1 l ON e.a = l.id
         |       WHERE e.b NOT IN (SELECT id FROM lab1)
         |       GROUP BY e.b, l.label),
         |w2 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (PARTITION BY id
         |         ORDER BY c DESC, label) AS rn FROM v2) WHERE rn = 1)
         |SELECT doc_id, label, round FROM (
         |  SELECT id AS doc_id, label, CAST(1 AS BIGINT) AS round FROM w1
         |  UNION ALL SELECT id, label, 2 FROM w2)
         |ORDER BY doc_id""".stripMargin,

    "q143_pmi_bigrams" ->
      s"""WITH norm AS (SELECT $ntoksSql AS ntoks FROM documents),
         |uni AS (SELECT w, count(*) AS c_w FROM (
         |    SELECT unnest(ntoks) AS w FROM norm) GROUP BY w),
         |big AS (SELECT w1, w2, count(*) AS c_bigram FROM (
         |    SELECT ntoks[i+1] AS w1, ntoks[i+2] AS w2
         |    FROM norm, unnest(range(len(ntoks) - 1)) AS u(i)) GROUP BY w1, w2),
         |tot AS (SELECT (SELECT sum(c_w) FROM uni) AS n_tokens,
         |               (SELECT sum(c_bigram) FROM big) AS n_bigrams),
         |sc AS (SELECT b.w1, b.w2, b.c_bigram,
         |    round(ln((b.c_bigram * 1.0 / t.n_bigrams) /
         |      ((u1.c_w * 1.0 / t.n_tokens) * (u2.c_w * 1.0 / t.n_tokens))), 6)
         |      AS pmi
         |  FROM big b CROSS JOIN tot t
         |  JOIN uni u1 ON b.w1 = u1.w
         |  JOIN uni u2 ON b.w2 = u2.w
         |  WHERE b.c_bigram >= 5),
         |r AS (SELECT w1, w2, c_bigram, pmi,
         |    row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank FROM sc)
         |SELECT w1, w2, c_bigram, pmi, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q144_calibration" ->
      s"""WITH $lrCtes
         |SELECT CAST(greatest(least(floor(p * 10), 9), 0) AS BIGINT) AS bin,
         |  count(*) AS n, round(avg(p), 6) AS avg_p,
         |  round(avg(y), 6) AS frac_pos
         |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin,

    "q145_weighted_wor" ->
      s"""${qualityCteSql(", lang")}
         |SELECT doc_id, lang, round(quality, 6) AS quality, rank FROM (
         |  SELECT doc_id, lang, quality,
         |    CAST(row_number() OVER (ORDER BY
         |      round(ln(((${graft.ops.Sampling.keyHashSql("doc_id")}) + 0.5)
         |          / 4294967296.0) / (quality + 0.1), 6) DESC,
         |      doc_id) AS BIGINT) AS rank
         |  FROM q) r
         |WHERE rank <= 30 ORDER BY rank""".stripMargin,

    "q146_correlated_scalar" -> correlatedScalarSql,

    "q147_exists_chain" -> existsChainSql,

    "q148_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT user_id AS basket,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE props IS NOT NULL),
        |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
        |freq AS (SELECT item, count(*) AS c_item FROM b GROUP BY item
        |  HAVING count(*) >= ceil(0.2 * (SELECT n_baskets FROM n))),
        |fb AS (SELECT b.basket, b.item FROM b JOIN freq USING (item)),
        |pairs AS (SELECT x.item AS a, y.item AS b2, count(*) AS c_pair
        |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2
        |  HAVING count(*) >= ceil(0.2 * (SELECT n_baskets FROM n))),
        |bidir AS (
        |  SELECT a AS antecedent, b2 AS consequent, c_pair FROM pairs
        |  UNION ALL SELECT b2, a, c_pair FROM pairs),
        |r AS (SELECT t.antecedent, t.consequent, t.c_pair,
        |    round(t.c_pair * 1.0 / n.n_baskets, 6) AS support,
        |    round(t.c_pair * 1.0 / fa.c_item, 6) AS confidence,
        |    round(n.n_baskets * 1.0 * t.c_pair /
        |      (fa.c_item * 1.0 * fc.c_item), 6) AS lift
        |  FROM bidir t CROSS JOIN n
        |  JOIN freq fa ON t.antecedent = fa.item
        |  JOIN freq fc ON t.consequent = fc.item)
        |SELECT * FROM (SELECT *, CAST(row_number() OVER (
        |    ORDER BY lift DESC, antecedent, consequent) AS BIGINT) AS rank
        |  FROM r)
        |WHERE rank <= 30 ORDER BY rank""".stripMargin,

    "q149_chi2_terms" ->
      s"""WITH norm AS (SELECT lang, $ntoksSql AS ntoks FROM documents),
         |pres AS (SELECT lang AS cls, t.term
         |  FROM norm, unnest(list_distinct(ntoks)) AS t(term)),
         |lt AS (SELECT cls, term, count(*) AS n_ct FROM pres GROUP BY 1, 2),
         |tok AS (SELECT term, CAST(sum(n_ct) AS BIGINT) AS n_t FROM lt
         |  GROUP BY 1 HAVING CAST(sum(n_ct) AS BIGINT) >= 5),
         |cls AS (SELECT lang AS cls, count(*) AS n_c FROM documents
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n_docs FROM cls),
         |sc AS (SELECT l.cls, l.term, l.n_ct,
         |    round(t2.n_docs *
         |      pow(l.n_ct * 1.0 * (t2.n_docs - c.n_c - (t.n_t - l.n_ct))
         |        - (t.n_t - l.n_ct) * 1.0 * (c.n_c - l.n_ct), 2)
         |      / (t.n_t * 1.0 * (t2.n_docs - t.n_t) * c.n_c *
         |         (t2.n_docs - c.n_c)), 6) AS chi2
         |  FROM lt l JOIN tok t USING (term) JOIN cls c USING (cls)
         |  CROSS JOIN tot t2
         |  WHERE t.n_t < t2.n_docs),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY cls
         |    ORDER BY chi2 DESC, term) AS BIGINT) AS rank FROM sc)
         |SELECT cls AS lang, term, n_ct, chi2, rank FROM r
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q150_naive_bayes" ->
      s"""WITH norm AS (SELECT doc_id, lang, $ntoksSql AS ntoks FROM documents),
         |tr AS (SELECT * FROM norm WHERE doc_id % 5 < 4),
         |ev AS (SELECT * FROM norm WHERE doc_id % 5 = 4),
         |trt AS (SELECT lang AS cls, t.tok FROM tr, unnest(ntoks) AS t(tok)),
         |lt AS (SELECT cls, tok, count(*) AS c_ct FROM trt GROUP BY 1, 2),
         |totl AS (SELECT cls, CAST(sum(c_ct) AS BIGINT) AS tot_c FROM lt
         |  GROUP BY 1),
         |vocab AS (SELECT count(DISTINCT tok) AS v FROM lt),
         |clsd AS (SELECT lang AS cls, count(*) AS n_c FROM tr GROUP BY 1),
         |dd AS (SELECT CAST(sum(n_c) AS BIGINT) AS d FROM clsd),
         |stats AS (SELECT c.cls, ln(c.n_c * 1.0 / dd.d) AS logprior,
         |    ln(1.0 / (t.tot_c + v.v)) AS fallback
         |  FROM clsd c JOIN totl t USING (cls) CROSS JOIN dd CROSS JOIN vocab v),
         |evc AS (SELECT doc_id, t.tok, count(*) AS cnt
         |  FROM ev, unnest(ntoks) AS t(tok) GROUP BY 1, 2),
         |evtot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total_cnt
         |  FROM evc GROUP BY 1),
         |adj AS (SELECT e.doc_id, m.cls, sum(e.cnt * ln(m.c_ct + 1)) AS adj
         |  FROM evc e JOIN lt m ON e.tok = m.tok GROUP BY 1, 2),
         |sc AS (SELECT b.doc_id, s.cls,
         |    round(s.logprior + b.total_cnt * s.fallback
         |      + coalesce(a.adj, 0), 6) AS score
         |  FROM evtot b CROSS JOIN stats s
         |  LEFT JOIN adj a ON a.doc_id = b.doc_id AND a.cls = s.cls),
         |pred AS (SELECT doc_id, cls AS pred_lang,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS rn FROM sc)
         |SELECT e.lang AS true_lang, p.pred_lang, count(*) AS n
         |FROM ev e JOIN pred p ON e.doc_id = p.doc_id AND p.rn = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  )
}
