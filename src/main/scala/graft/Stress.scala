package graft

import org.apache.spark.sql.functions._

/** Scale-behavior probe: replicates the documents corpus `factor`-ways (with
  * id offsets and per-replica text mutations so replicas are near- but not
  * exact duplicates) and times the dedup operators on the inflated corpus.
  * Near-linear growth in these timings is the evidence that the candidate
  * generation is bucket-bound, not quadratic.
  *
  * Usage: runMain graft.Stress [sfDir] [factor] [section]
  *
  * Shuffle partitions default to the core count; the 1M-vector probes need
  * more, smaller reduce tasks so per-task sort buffers fit (32 tasks x wide
  * candidate rows OOMed the spill) — set `spark.sql.shuffle.partitions` at
  * launch (`--conf` or `-D`). Every fixture and index lives under one
  * scratch dir that is deleted at exit.
  */
object Stress {
  def main(args: Array[String]): Unit =
    Sweep.withScratchDir("graft-stress")(scratch => run(args, scratch))

  private def run(args: Array[String], scratch: java.nio.file.Path): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = GraftSession.positiveInt("factor", args.lift(1), 20)
    // "docs" | "embed" | "events" | "all": re-run one family without
    // paying for the others
    val section = args.lift(2).getOrElse("all")
    val cpus   = GraftSession.envCpus(32)
    // SPARK_GRAFT_STATESTORE=advise runs the state-size ADVISOR in the
    // stream section: the dedup state projection (the section's largest) is
    // judged against the executor heap, and the backend switches to RocksDB
    // only when the projection exceeds the budget — the operational form of
    // the r6 "default OOMs at f500/8g, RocksDB completes" boundary. A fixed
    // backend is Spark's own `spark.sql.streaming.stateStore.providerClass`.
    val advise = sys.env.get("SPARK_GRAFT_STATESTORE") match {
      case None => false
      case Some("advise") => true
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATESTORE must be 'advise' or unset, got '$v'")
    }
    def scratchDir(name: String): String =
      java.nio.file.Files.createDirectory(scratch.resolve(name)).toString
    val spark = GraftSession.builder(s"local[$cpus]", "graft-stress")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --conf spark.graft.reliableMaterialize=true runs every checkpoint
    // (connected components, CELF, the lazy materialize sites) through
    // fault-tolerant DataFrame.checkpoint — the cluster-survival path,
    // stress-timed so its overhead is a known number, not a guess. Its
    // checkpoint dir comes from the launcher: --conf spark.checkpoint.dir.
    val reliable = Materialize.reliable(spark)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val replicas = spark.range(factor).select(col("id").as("rep"))
    // replica 0 keeps the text; others drop `rep` leading chars -> near-dups
    val corpus = base.crossJoin(replicas)
      .select((col("doc_id") * factor + col("rep")).as("doc_id"),
        expr("substring(text, rep + 1)").as("text"))
      .repartition(cpus * 2)
      .persist()
    val n = corpus.count()
    println(s"[stress] corpus rows: $n (factor $factor)")

    // After each timed section, drop the SQL cache AND RDD-level blocks
    // (the dedup/search operators materialize posting lists / signature
    // tables via localCheckpoint, whose blocks clearCache() does not see)
    // so dead blocks don't accumulate memory pressure into later sections,
    // then re-warm the shared inputs OUTSIDE the timed window. Every
    // rewarm-kept fixture is a plain .persist() over checkpoint-free
    // lineage (reads + expressions), so the unpersist/recompute cycle is
    // always recoverable.
    var rewarm: () => Unit = () => { corpus.persist(); corpus.count(); () }
    // executor-CPU next to wall (same meter as Bench): the box takes
    // external load spikes that inflate wall 2-3x — CPU is load-robust, so
    // a probe's reading self-adjudicates without a quiet-window re-run
    val meter = new org.apache.spark.graft.BenchMetrics(spark.sparkContext)
    def time(name: String)(body: => Long): Unit = {
      val m = meter.measure(body)
      val rows = m.get
      GraftSession.dropQueryState(spark)
      rewarm()
      println(f"[stress] $name%-22s ${m.wallSeconds}%8.2f s  " +
        f"(cpu ${m.cpuSeconds}%8.1f s)  ($rows rows)")
    }

    if (section == "docs" || section == "all") {
    time("exact_dedup") {
      graft.llm.Dedup.exact(corpus, "text", "doc_id").count()
    }
    time("minhash_pairs") {
      graft.llm.Dedup.minhashPairs(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
        maxBucketSize = 200).count()
    }
    time("simhash_pairs") {
      graft.llm.Dedup.simhashPairs(corpus, "text", "doc_id",
        maxHamming = 3, maxBucketSize = 2000).count()
    }
    time("ngram_jaccard_pairs") {
      graft.llm.Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
        n = 3, threshold = 0.5, maxShingleFreq = 100).count()
    }
    time("ngram_jacc_t08") {
      graft.llm.Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
        n = 3, threshold = 0.8, maxShingleFreq = 100).count()
    }
    time("text_profile_scan") {
      corpus.select(graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
        .agg(sum(col("q"))).collect()
      n
    }
    // line-level boilerplate removal: frequency counting + anti-join ship
    // only (hash, id); reassembly shuffles kept lines once
    time("line_dedup") {
      // sum of output lengths, NOT count(): the reassembly join is keyed on
      // a unique aggregate, so a bare count would let Catalyst eliminate
      // the join and time nothing
      graft.llm.Dedup.dedupLines(corpus, "text", "doc_id", minDocs = 10)
        .agg(sum(length(col("clean_text")))).collect()
      n
    }
    // fuzzy_join_d1 moved to the dedicated `fuzzy` section (paired with
    // the d=2 blow-up probe there)
    // two-phase prefix sum over the replicated corpus: per-task work must
    // stay bounded by range-partition size even though one "language"
    // (replica class) holds 1/5 of all rows
    time("prefix_sum_pack") {
      graft.ops.PrefixSum.groupedRunningSum(
        corpus.withColumn("lang", (col("doc_id") % 5).cast("string"))
          .withColumn("toks",
            graft.functions.TextFunctions.tokenCount(col("text")).cast("long")),
        "lang", "doc_id", col("toks"), "cum")
        .select(max(col("cum"))).collect()
      n
    }
    // BM25 over the inflated corpus: posting-list build is the corpus-pass
    // cost; scoring touches only postings of the (broadcast) query terms,
    // so the query count, not the corpus, drives the scoring stage
    time("bm25_topk_10q") {
      import spark.implicits._
      val queries = (1L to 10L).map(i => (i,
        Seq("spark window agg", "vector scan batch", "customer stream query",
          "table filter sort", "key hash merge")(i.toInt % 5))).toDF(
        "query_id", "query_text")
      graft.llm.Search.bm25TopK(corpus, "text", "doc_id", queries, 10).count()
    }
    // BPE induction: the corpus collapses to a (word, freq) vocab FIRST —
    // each merge round is one vocab-sized aggregate + rewrite, so train
    // cost tracks VOCAB growth (sublinear in corpus), not corpus size
    var bpeMerges: Seq[graft.llm.Bpe.Merge] = Nil
    // forced-distributed: the scale-shape witness (each round = one vocab
    // aggregate + rewrite; at 100 TB the vocab exceeds any collect bound)
    time("bpe_train_10") {
      val vocab = graft.llm.Bpe.wordFreq(corpus, "text").persist()
      val nv = vocab.count()
      bpeMerges = graft.llm.Bpe.learnMerges(vocab, numMerges = 10,
        collectThreshold = 0)
      vocab.unpersist()
      nv
    }
    // adaptive default: the same call sites short-circuit to one bounded
    // vocab collect when distinct words fit the threshold — identical
    // merges (spec + q126 pin it), merge rounds without per-round jobs
    time("bpe_train_10_adaptive") {
      val vocab = graft.llm.Bpe.wordFreq(corpus, "text").persist()
      val m = graft.llm.Bpe.learnMerges(vocab, numMerges = 10)
      require(m == bpeMerges, "adaptive BPE diverged from distributed")
      vocab.unpersist()
      m.length.toLong
    }
    // encode is a zero-shuffle expression chain: linear corpus pass
    time("bpe_encode_corpus") {
      graft.llm.Bpe.encode(corpus, "text", bpeMerges, "toks")
        .agg(sum(size(col("toks")))).collect()
      n
    }
    // connected components over the FULL minhash pair graph — the step after
    // pair generation; per-round cost is one shuffle of 16-byte label rows,
    // rounds ~ log(cluster diameter)
    }

    if (section == "fuzzy" || section == "all") {
    // FastSS neighborhood blow-up probe: d=2 generates ~L^2/2 extra
    // variants per string (the known symmetric-delete weakness) — the
    // question is whether variant volume and the maxBucketSize cap keep
    // the candidate join pair-bounded, or whether d=2 needs a tighter
    // default cap. Keys are the same 3-token phrase prefixes as d=1.
    val phrases = corpus.select(col("doc_id"),
      array_join(slice(graft.functions.TextFunctions.normTokens(col("text")),
        1, 3), " ").as("s")).persist()
    phrases.count()
    rewarm = () => { corpus.persist(); corpus.count()
                     phrases.persist(); phrases.count(); () }
    time("fuzzy_join_d1") {
      graft.ops.FuzzyJoin.editDistancePairs(phrases, "s", "doc_id",
        maxDist = 1).count()
    }
    time("fuzzy_join_d2") {
      graft.ops.FuzzyJoin.editDistancePairs(phrases, "s", "doc_id",
        maxDist = 2).count()
    }
    phrases.unpersist()
    rewarm = () => { corpus.persist(); corpus.count(); () }
    }

    if (section == "search" || section == "all") {
    // BM25 batch scaling through the PERSISTED term-sorted index: build
    // once (corpus pass), then serve 10/100/1000-query batches — serving
    // cost must track the batch's matched postings, not the corpus
    // (pruned scan over the term-sorted files), so 100x queries must come
    // in far under 100x time.
    import spark.implicits._
    val qtexts = Seq("spark window agg", "vector scan batch",
      "customer stream query", "table filter sort", "key hash merge",
      "join shuffle spill", "index probe cell", "token count ratio",
      "schema merge insert", "range bucket prune")
    def qBatch(nq: Int) = (1L to nq.toLong).map(i =>
      (i, qtexts((i % qtexts.length).toInt) + " " +
        qtexts(((i / qtexts.length) % qtexts.length).toInt)))
      .toDF("query_id", "query_text")
    // qBatch composes PAIRS of the 10 base texts, so past 100 queries the
    // distinct-term-set count saturates at 100 and the engine's
    // shared-term-set dedup collapses the batch — that measures the
    // repeated-probe serving path. qBatchDistinct builds nq GENUINELY
    // distinct 3-term sets (three disjoint word decades from the corpus
    // vocabulary), measuring the honest linear postings-bound regime.
    val decA = Seq("stream", "value", "spark", "data", "big",
      "small", "vector", "group", "slow", "table")
    val decB = Seq("key", "column", "order", "scan", "window",
      "hash", "merge", "row", "customer", "join")
    val decC = Seq("fast", "filter", "line", "part", "sort",
      "query", "batch", "agg", "the", "a")
    def qBatchDistinct(nq: Int) = (0L until nq.toLong).map(i =>
      (i + 1, decA((i % 10).toInt) + " " + decB(((i / 10) % 10).toInt) +
        " " + decC(((i / 100) % 10).toInt)))
      .toDF("query_id", "query_text")
    val idxDir = scratchDir("bm25")
    time("bm25_index_build") {
      graft.llm.Search.writeSearchIndex(corpus, "text", "doc_id", idxDir)
      n
    }
    for (nq <- Seq(10, 100, 1000)) {
      time(s"bm25_index_serve_${nq}q") {
        graft.llm.Search.querySearchIndex(spark, idxDir, qBatch(nq), 10)
          .count()
      }
    }
    time("bm25_index_serve_1000q_distinct") {
      graft.llm.Search.querySearchIndex(spark, idxDir,
        qBatchDistinct(1000), 10).count()
    }
    // Zipf-shaped serving: the replicated corpus has a 31-word vocabulary
    // where EVERY term sits at ~77% df — the adversarial all-common case
    // where no impact bound can prune and serving must pay the exact
    // linear cost (the 1000q_distinct row above measures that honestly).
    // Real corpora are Zipfian: decontamination queries carry rare entity
    // tokens next to common words. Model that by tagging each doc with a
    // rare token (df = n/2000) and issuing 1000 distinct queries of one
    // rare tag + two common words — the max-score serving path should
    // collapse the common-term fan-out to candidate-sized work.
    val tagged = corpus.withColumn("text",
      concat(col("text"), lit(" tag"), pmod(col("doc_id"), lit(2000L))))
      .persist()
    tagged.count()
    val zIdxDir = scratchDir("bm25-zipf")
    time("bm25_zipf_index_build") {
      graft.llm.Search.writeSearchIndex(tagged, "text", "doc_id", zIdxDir)
      n
    }
    def qBatchZipf(nq: Int) = (0L until nq.toLong).map(i =>
      (i + 1, s"tag${i % 2000} " + decA((i % 10).toInt) + " " +
        decB(((i / 10) % 10).toInt)))
      .toDF("query_id", "query_text")
    time("bm25_zipf_serve_1000q_distinct") {
      graft.llm.Search.querySearchIndex(spark, zIdxDir,
        qBatchZipf(1000), 10).count()
    }
    tagged.unpersist()
    }

    if (section == "docs" || section == "cc" || section == "all") {
    time("connected_components") {
      val pairs = graft.llm.Dedup.minhashPairs(corpus, "text", "doc_id",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
          maxBucketSize = 200)
        .select(col("idA"), col("idB"))
      val (labels, iters) =
        graft.llm.Dedup.connectedComponentsWithStats(pairs)
      val nLabels = labels.count()
      println(s"[stress] cc converged in $iters rounds" +
        (if (reliable) " (reliable checkpoints)" else ""))
      nLabels
    }
    }

    if (section == "docs" || section == "cover" || section == "all") {
    // CELF round-cost probe over TRIGRAM items (q139's item definition —
    // near-distinct per-doc gains, the shape real corpora have): k=1 is
    // the seed aggregate alone; the (k10 - k1)/9 delta is the marginal
    // per-pick cost, which must stay near-constant (top-B evaluation),
    // NOT the seed's full-corpus aggregate re-run per round as the
    // pre-CELF eager greedy did. The unigram variant (greedy_cover_ties)
    // is the documented worst case: 200 near-identical replicas per doc
    // make every round a corpus-wide tie plateau, where the exact min-id
    // tie-break is inherently a full-table question for ANY algorithm —
    // the targeted one-job tie-breaker answers it without climbing the
    // widen ladder.
    def coverItems(gramsOf: org.apache.spark.sql.Column) =
      corpus.select(col("doc_id"), explode(gramsOf).as("item"))
    val ctoks = graft.functions.TextFunctions.normTokens(col("text"))
    val cgrams = when(size(ctoks) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ctoks) - 3),
        i => concat_ws(" ", element_at(ctoks, i + 1),
          element_at(ctoks, i + 2), element_at(ctoks, i + 3))))
    time("greedy_cover_seed_k1") {
      graft.ops.Selection.greedyMaxCover(coverItems(cgrams), 1).count()
    }
    time("greedy_cover_k10") {
      graft.ops.Selection.greedyMaxCover(coverItems(cgrams), 10).count()
    }
    time("greedy_cover_ties_k5") {
      graft.ops.Selection.greedyMaxCover(coverItems(ctoks), 5).count()
    }
    }

    if (section == "events" || section == "wh" || section == "all") {
    // event-stream family: replicate events by user-id offset (factor new
    // users, same per-user history shape) — key cardinality grows with
    // factor, per-key volume stays constant, so per-key window state is
    // flat and costs must grow ~linearly
    val eraw = spark.read.parquet(s"$sfDir/events.parquet")
    val ebase = (if (eraw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      eraw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else eraw)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val maxUser = 1000000L
    val events = ebase.crossJoin(replicas)
      .select((col("event_id") * factor + col("rep")).as("event_id"),
        col("ts"), (col("user_id") + col("rep") * maxUser).as("user_id"),
        col("event_type"), col("value"))
      .repartition(cpus * 2)
      .persist()
    val nEv = events.count()
    println(s"[stress] event rows: $nEv")
    rewarm = () => { events.persist(); events.count(); () }
    if (section == "events" || section == "all") {
    time("scd2_history") {
      graft.ops.Scd.scd2History(events, "user_id", "event_type", "ts",
        "event_id").count()
    }
    time("gap_fill_hourly") {
      graft.ops.Resample.gapFillHourly(events, "user_id", "ts", "value")
        .count()
    }
    time("funnel_3stage") {
      graft.ops.Funnel.funnelCounts(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")).count()
    }
    time("retention_cohorts") {
      val ev = events.select(col("user_id"),
        date_trunc("week", col("ts")).as("week")).distinct()
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week")).count().count()
    }
    time("rolling_range_window") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").cast("long"))
        .rangeBetween(-6L * 86400L, 0L)
      events.withColumn("r", sum(col("value")).over(w))
        .agg(sum(col("r"))).collect()
      nEv
    }
    }

    if (section == "wh" || section == "all") {
    // warehouse-maintenance family: the table-upkeep ops whose volume cost
    // was asserted-only before round 6 — fragmented-ingest compaction
    // (scan cost scales with FILE COUNT, not bytes), z-order clustering
    // (row-group pruning on a 2-D box vs the as-ingested layout), and the
    // CDC merge (full-volume changelog against a per-key snapshot).
    val whRoot = scratchDir("wh")
    val frag = s"$whRoot/frag"
    // fragmented ingest: 2048 micro-appends' worth of files in one table
    time("wh_fragmented_write") {
      events.repartition(2048).write.mode("overwrite").parquet(frag)
      graft.io.Compaction.dataFileCount(spark, frag).toLong
    }
    def scanAgg(path: String): Long =
      spark.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
        .collect().head.getLong(1)
    time("wh_scan_fragmented") { scanAgg(frag) }
    time("wh_compact_128mb") {
      graft.io.Compaction.compact(spark, frag, "parquet", 128L << 20).toLong
    }
    time("wh_scan_compacted") { scanAgg(frag) }
    // z-order vs as-ingested: same rows, same file count — the box scan
    // (selective in BOTH user_id and value) must win on parquet row-group
    // stats pruning, nothing else differs
    val zdir = s"$whRoot/z"; val ndir = s"$whRoot/n"
    val zin = events.select(col("user_id"), col("value"), col("event_id"))
    var zFiles = 0L
    time("wh_zorder_write") {
      graft.ops.ZOrder.zorderWrite(zin, "user_id", "value", zdir, 64)
      zFiles = graft.io.Compaction.dataFileCount(spark, zdir).toLong
      zFiles
    }
    // the box-scan comparison below assumes same-file-count layouts — a
    // skewed z-order write (repartitionByRange can emit fewer non-empty
    // partitions than requested when z cells collide) would otherwise
    // masquerade as pruning. On divergence the COMPARISON is invalid, not
    // the run: rewrite the as-ingested layout to the z-side's actual file
    // count so like compares with like, and log the adjustment.
    var nFiles = 0L
    time("wh_ingested_write") {
      val parts = if (zFiles > 0 && zFiles != 64) {
        println(s"[stress] z-order wrote $zFiles files (asked 64); " +
          s"matching the as-ingested layout to $zFiles for a fair box scan")
        zFiles.toInt
      } else 64
      zin.repartition(parts).write.mode("overwrite").parquet(ndir)
      nFiles = graft.io.Compaction.dataFileCount(spark, ndir).toLong
      nFiles
    }
    val userSpan = factor.toLong * maxUser
    def boxCount(path: String): Long =
      spark.read.parquet(path)
        .filter(col("user_id").between(userSpan / 3, userSpan / 3 + maxUser)
          && col("value").between(10.0, 20.0))
        .count()
    var zBox = 0L
    time("wh_box_scan_zorder") { zBox = boxCount(zdir); zBox }
    time("wh_box_scan_ingested") {
      val n = boxCount(ndir)
      require(n == zBox, s"z-order scan returned $zBox rows, ingested $n")
      n
    }
    if (nFiles != zFiles)
      println(s"[stress] box-scan layouts still diverged after matching " +
        s"($zFiles z-order vs $nFiles ingested files) — read the " +
        "wh_box_scan_* pair as indicative, not adjudicated")
    // CDC merge: per-user latest snapshot + the full event volume as an
    // upsert/delete changelog (seq = event_id, 10% deletes)
    val snap = events.groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("value")), col("ts"))
        .as("__w"))
      .select(col("user_id"), col("__w.event_type").as("event_type"),
        col("__w.value").as("value"))
      .persist()
    snap.count()
    val chg = events.select(col("user_id"), col("event_id").as("seq"),
      when(pmod(col("event_id"), lit(10L)) === 0, "D").otherwise("U")
        .as("op"),
      col("event_type"), col("value"))
    time("wh_cdc_apply") {
      graft.ops.Diff.cdcApply(snap, chg, Seq("user_id"), "seq", "op").count()
    }
    snap.unpersist()
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(whRoot), true)
    }
    }

    if (section == "embed" || section == "all") {
    // embedding path: replicate vectors with per-replica perturbations
    // (replica r adds 0.02*r of the cyclic-shifted vector -> cosine to the
    // source decays with r; only low-r replicas pass the 0.9 threshold), so
    // pair counts stay bounded while the candidate join sees a dup-heavy
    // signature distribution.
    val ebase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val d = size(col("embedding"))
    val evecs = ebase.crossJoin(replicas)
      .select((col("vec_id") * factor + col("rep")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + col("rep") * lit(0.02) *
            element_at(col("embedding"), pmod(i + 1, d) + 1)).as("embedding"))
      .repartition(cpus * 2)
      .persist()
    val nVecs = evecs.count()
    println(s"[stress] embedding rows: $nVecs")
    rewarm = () => { evecs.persist(); evecs.count(); () }
    // sigBits MUST track corpus size (bucket occupancy is what the pair
    // join is quadratic in): the fixed sigBits=12 of earlier rounds went
    // 69x superlinear at 200k vectors (occupancy ~49). EMPIRICAL
    // calibration, not just the analytic rule: the replicated corpus is
    // correlated, and at 1M vectors the analytic 17 bits measured median
    // occupancy 17 (1.4e9 candidates, spilled past local disk) — the
    // histogram probe widens until occupancy meets target.
    val sb = graft.llm.Dedup.calibratedSigBits(evecs, "embedding")
    println(s"[stress] calibrated sigBits = $sb for $nVecs vectors")
    time(s"embedding_pairs_lsh") {
      graft.llm.Dedup.embeddingPairs(evecs, "embedding", "vec_id",
        threshold = 0.9, sigBits = sb, nTables = 12).count()
    }
    // SemDeDup path: k-means assignment is a broadcast argmin; the
    // within-cell pair check is quadratic in CELL population — the
    // default auto-sizing (suggestedCells: cells ~ corpus/2000) keeps
    // expected cells ~2k rows with no manual tuning
    time("semantic_dedup") {
      graft.llm.Dedup.semanticDedup(evecs, "embedding", "vec_id",
        threshold = 0.9, kmeansIters = 2).count()
    }
    // persisted IVF index: build once (train + partitioned write), then
    // serve a 1k-query batch — serving must read only probed cell dirs
    // (dynamic partition pruning), so its cost tracks nProbe/nCentroids of
    // the corpus, not the corpus
    val ivfDir = scratchDir("ivf")
    time("ivf_index_build") {
      graft.llm.Similarity.buildIvfIndex(evecs, "embedding", "vec_id",
        ivfDir, nCentroids = 64, kmeansIters = 2)
      nVecs
    }
    time("ivf_index_serve_1k") {
      graft.llm.Similarity.queryIvfIndex(spark, ivfDir,
        evecs.filter(col("vec_id") < 1000), "embedding", "vec_id",
        k = 10, nProbe = 4).count()
    }
    // PQ: train on the bounded sample (all subspaces in one aggregate per
    // round), then encode the full corpus (one shuffle of (id, 8 codes))
    // and serve a 1k-query ADC batch over codes only
    var pqCb: graft.llm.Pq.Codebooks = null
    time("pq_train_m8k16") {
      pqCb = graft.llm.Pq.train(evecs, "embedding", "vec_id", m = 8,
        k = 16, iters = 3)
      nVecs
    }
    val pqCodes = graft.llm.Pq.encode(evecs, "embedding", "vec_id", pqCb)
      .persist()
    time("pq_encode") { pqCodes.count() }
    // flat ADC is O(corpus x queries) by definition — keep a small batch
    // as the recall-ceiling probe; serving at scale goes through IVF-PQ
    time("pq_adc_flat_100q") {
      graft.llm.Pq.adcTopK(evecs.filter(col("vec_id") < 100), pqCodes,
        "embedding", "vec_id", pqCb, kNn = 10).count()
    }
    val pqCents = graft.llm.Similarity.trainSphericalKMeans(evecs,
      "embedding", "vec_id", nCentroids = 64, iters = 2)
    val pqIndex = graft.llm.Similarity.assignCells(evecs, "embedding",
        "vec_id", pqCents)
      .select(col("__id").as("vec_id"), col("cell"))
      .join(pqCodes, Seq("vec_id")).persist()
    time("ivfpq_index_build") { pqIndex.count() }
    time("ivfpq_serve_1k") {
      graft.llm.Pq.ivfPqTopK(evecs.filter(col("vec_id") < 1000), pqIndex,
        "embedding", "vec_id", pqCb, pqCents, kNn = 10, nProbe = 4).count()
    }
    pqIndex.unpersist()
    pqCodes.unpersist()
    // JL projection 64 -> 16: map-only storage/compute transform
    time("random_projection") {
      evecs.select(graft.functions.VectorFunctions
          .randomProjection(col("embedding"), 16, seed = 7).as("pv"))
        .agg(sum(element_at(col("pv"), 1))).collect()
      nVecs
    }
    }

    if (section == "stream" || section == "all") {
    // Structured Streaming throughput at volume: a factor-scaled synthetic
    // event corpus lands as 40 parquet files and is driven through the
    // engine's stateful streaming ops in ~5 micro-batches
    // (maxFilesPerTrigger=8). Measured: sustained rows/s end-to-end and
    // the state-store row count after the run (bounded state is the scale
    // claim: windows x types for the agg, watermark-evicted ids for
    // dedup, |users| for the custom state).
    import graft.streaming.EventStreams
    val nEvRows = 200000L * factor
    val nUsers = 50000L
    // Shared by the fixture writer, every readStream below, AND the state
    // advisor's peak-rows projection — one batch holds filesPerTrigger /
    // nEventFiles of the corpus, so these three sites desynchronizing
    // would silently skew the projection the width-check then validates.
    val nEventFiles = 40
    val filesPerTrigger = 8
    // event_id = id*9 div 10: every 10th row repeats the previous id
    // ADJACENTLY (a same-timestamp duplicate the dedup state must catch,
    // not one the watermark would drop as late), 10% duplicates total
    val uniqueIds = nEvRows * 9 / 10
    val sdir = scratchDir("stream")
    val eid = expr("id * 9 div 10")
    spark.range(nEvRows).select(
        eid.as("event_id"),
        // second-granularity event time striding with the id; files are
        // RANGE-partitioned on id so arrival order tracks event time and
        // the watermark advances monotonically across micro-batches
        timestamp_seconds(lit(1700000000L) + expr("(id * 9 div 10) div 100")).as("ts"),
        pmod(hash(eid), lit(nUsers)).cast("long").as("user_id"),
        concat(lit("t"), pmod(eid, lit(5))).as("event_type"),
        (eid % 97).cast("double").as("value"),
        lit("{}").as("props"))
      .repartitionByRange(nEventFiles, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode("overwrite").parquet(s"$sdir/in")
    // The file stream source orders files by MODIFICATION TIME, and the
    // parallel write finishes parts in arbitrary order — restamp mtimes in
    // part order (= event_id range order) so arrival tracks event time and
    // the watermark never drops in-order data as late.
    new java.io.File(s"$sdir/in").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 1000L)
      }

    val dedupAdvice: Option[EventStreams.StateAdvice] =
      if (!advise) None else {
        val dedupStateSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType)))
        val rowBytes = EventStreams.estimatedStateRowBytes(dedupStateSchema)
        // PEAK state rows, not total uniques: the watermark only advances
        // between micro-batches, so one batch's whole key set
        // (filesPerTrigger of nEventFiles input files) sits in state until
        // that batch commits; the 2-hour horizon holds 720k ids (100
        // ids/s) after eviction. The old total-uniques projection
        // over-counted rows ~5x while the old width formula under-counted
        // bytes ~5x — two errors canceling; both sides are now the
        // measured quantities (BENCH_NOTES_r8 §9).
        val horizonIds = 100L * 7200L
        val peakRows =
          math.max(uniqueIds * filesPerTrigger / nEventFiles, horizonIds)
        val advice = EventStreams.adviseStateStore(spark,
          projectedRows = peakRows, stateRowBytes = rowBytes,
          autoSwitch = true,
          rocksDbRowBytes =
            EventStreams.estimatedRocksDbRowBytes(dedupStateSchema))
        println(s"[stress] state advisor: ${advice.recommendation}")
        println(s"[stress] state store: " +
          (if (advice.switched) "RocksDB (advised)" else "default (advised)"))
        Some(advice)
      }

    def runStream(name: String, expectRows: Option[Long])
                 (mk: org.apache.spark.sql.DataFrame =>
                    org.apache.spark.sql.DataFrame): Unit = {
      val ck = scratchDir(s"ck-$name")
      // AtomicLong: foreachBatch runs on the stream-execution thread; the
      // final read below is from the main thread after processAllAvailable,
      // so the counter needs an explicit memory barrier, not the incidental
      // ones inside the streaming engine.
      val outRowsAcc = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = mk(EventStreams.readStream(spark, s"$sdir/in",
          maxFilesPerTrigger = filesPerTrigger))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          outRowsAcc.addAndGet(df.count()); ()
        }
        .start()
      val drain = meter.measure(q.processAllAvailable())
      drain.get
      val secs = drain.wallSeconds
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      val stateBytes = Option(q.lastProgress)
        .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(-1L)
      q.stop()
      val outRows = outRowsAcc.get()
      expectRows.foreach(e => require(outRows >= e,
        s"$name: expected >= $e output rows, got $outRows"))
      println(f"[stress] $name%-22s $secs%8.2f s  " +
        f"(${(nEvRows / secs / 1e6)}%.2f M rows/s in, " +
        f"$outRows out, $stateRows state rows, " +
        f"${stateBytes / 1e6}%.1f MB state)")
      // projection-vs-actual closure for the advisor: a wrong row-width
      // estimate silently mis-advises, so the dedup stream (the advised
      // projection's subject) reports the measured error margin. The
      // projection uses the FULL projected row count; the store reports
      // end-of-run loaded bytes, so compare per-row widths, which are
      // horizon-independent. The two stores report DIFFERENT quantities
      // (default: on-heap version maps; RocksDB: off-heap block/memtable
      // usage), so the check picks the width model matching the store the
      // stream ACTUALLY ran on and labels it — the r8 run printed a
      // phantom 2.29x "error" by judging RocksDB usage against the
      // on-heap model.
      dedupAdvice.filter(_ => name == "stream_dedup" && stateBytes > 0 &&
          stateRows > 0).foreach { a =>
        val onRocks = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
          .exists(_.contains("RocksDB"))
        val (projPerRow, label) =
          if (onRocks && a.projectedRocksDbBytes > 0)
            (a.projectedRocksDbBytes.toDouble / a.projectedRows,
              "rocksdb off-heap block/memtable usage")
          else if (onRocks)
            (a.projectedBytes.toDouble / a.projectedRows,
              "ON-HEAP model vs rocksdb usage — NOT comparable, no " +
                "rocksdb width was projected")
          else
            (a.projectedBytes.toDouble / a.projectedRows,
              "default-store on-heap")
        val actPerRow = stateBytes.toDouble / stateRows
        println(f"[stress] state advisor width check [$label]: projected " +
          f"$projPerRow%.0f B/row vs measured $actPerRow%.0f B/row " +
          f"(${projPerRow / actPerRow}%.2fx)" +
          (if (onRocks)
            " — RocksDB memoryUsedBytes is an end-of-run block-cache+" +
              "memtable snapshot that swings ~2x across same-config runs " +
              "(286 B/row r8, 543 B/row r9); the forecast is order-of-" +
              "magnitude, and the advisor's DECISION (does the default " +
              "store fit the heap) never depends on this width"
          else ""))
      }
    }

    // watermarked tumbling window agg: state = open windows x event types
    runStream("stream_window_agg", None)(
      EventStreams.windowedStats(_, "1 hour", "1 hour", "2 hours"))
    // stateful exact dedup: planted 10% duplicates must disappear
    runStream("stream_dedup", Some(uniqueIds))(
      EventStreams.dedupStream(_, Seq("event_id"), "2 hours"))
    // custom per-user state via mapGroupsWithState: state = |users|
    runStream("stream_user_state", None) { df =>
      import spark.implicits._
      EventStreams.runningUserTotals(
        df.select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[EventStreams.EventRow]).toDF()
    }
    }

    if (section == "skew" || section == "all") {
    // Planted-skew join bake-off: 50% of the fact rows on ONE key, the dim
    // side forced off the broadcast path so the join genuinely shuffles.
    // Three variants answer "when to salt, when AQE suffices" with
    // numbers: (a) plain shuffle join, AQE skew splitting OFF — the naive
    // baseline whose hot key lands on one task; (b) AQE skew splitting ON
    // (the engine default); (c) explicit SkewJoin.saltedJoin with a
    // per-row saltKey. Fixture is synthetic (spark.range) so the skew
    // share and key count are exact, and scales with `factor`.
    val nSkewRows = 200000L * factor
    val skewLeft = spark.range(nSkewRows).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(col("id"), lit(1000))).as("key"),
      col("id").as("lid"),
      (col("id") % 97).cast("double").as("value")).persist()
    val skewRight = spark.range(1000).select(col("id").as("rkey"),
      concat(lit("grp"), pmod(col("id"), lit(7))).as("grp")).persist()
    skewLeft.count(); skewRight.count()
    println(s"[stress] skew fixture: $nSkewRows fact rows, 50% on one key")
    rewarm = () => { skewLeft.persist(); skewLeft.count()
                     skewRight.persist(); skewRight.count(); () }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("skew_join_plain_noaqe") {
      skewLeft.join(skewRight, col("key") === col("rkey"))
        .groupBy(col("grp")).agg(sum(col("value"))).count()
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    time("skew_join_aqe_split") {
      skewLeft.join(skewRight, col("key") === col("rkey"))
        .groupBy(col("grp")).agg(sum(col("value"))).count()
    }
    time("skew_join_salted_f32") {
      graft.ops.SkewJoin.saltedJoin(skewLeft, skewRight, "key", "rkey",
        factor = 32, saltKey = Some("lid"))
        .groupBy(col("grp")).agg(sum(col("value"))).count()
    }
    spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    skewLeft.unpersist(); skewRight.unpersist()
    rewarm = () => { corpus.persist(); corpus.count(); () }
    }

    if (section == "graph" || section == "all") {
    // transition graph replicated factor-ways: each replica shifts users
    // AND items into fresh id space, so nodes and edges both grow
    // linearly with factor (disconnected replicas = the sharded-corpus
    // shape). PageRank cost model: rounds x (|E| join + |V| agg).
    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
    val gedges = {
      val exp = ev0.crossJoin(replicas).select(
        (col("user_id") * factor + col("rep")).as("u"),
        col("event_id"),
        (col("item") + col("rep") * lit(100L)).as("item"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("event_id"))
      exp.withColumn("src", lag(col("item"), 1).over(w))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .groupBy(col("src"), col("item").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
        .persist()
    }
    val nEdges = gedges.count()
    println(s"[stress] graph edges: $nEdges (${100 * factor} item nodes)")
    // each probe's clearCache() drops gedges too — re-warm THIS section's
    // fixtures, or every probe after the first pays the 20M-row crossJoin
    // + per-user window rebuild inside its timing (measured: label_prop
    // read 104 s in-section vs 4.9 s isolated). corpus is re-warmed too:
    // greedy_cover_k3 reads it, and the docs-section rewarm that used to
    // keep it hot doesn't run when section == "graph".
    rewarm = () => { gedges.persist(); gedges.count()
                     corpus.persist(); corpus.count(); () }
    time("pagerank_5it") {
      graft.ops.Graph.pageRank(gedges, nIter = 5).count()
    }
    time("label_prop_2it") {
      val seeds = gedges.select(col("src").as("id")).distinct()
        .filter(pmod(col("id"), lit(3)) === 0)
        .select(col("id"), concat(lit("l"), pmod(col("id"), lit(5))).as("label"))
      graft.ops.Graph.labelPropagate(
        gedges.select(col("src"), col("dst")), seeds, nIter = 2).count()
    }
    time("greedy_cover_k3") {
      val toks = graft.functions.TextFunctions.normTokens(col("text"))
      val grams = when(size(toks) < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2), element_at(toks, i + 3))))
      graft.ops.Selection.greedyMaxCover(
        corpus.select(col("doc_id"), explode(grams).as("item")), 3).count()
    }
    time("hits_3it") {
      graft.ops.Graph.hits(
        gedges.select(col("src"), col("dst")), nIter = 3).count()
    }
    // triangle cost is what degree ordering bounds: the replicated
    // transition graph keeps per-replica density, so wedge work grows
    // linearly with factor
    time("triangles") {
      graft.ops.Graph.triangleCounts(
        gedges.select(col("src"), col("dst")), "src", "dst").count()
    }
    // association baskets: (user, item) presence at factor-replicated
    // user count — pair join bounded by the support floor. The basket
    // fixture materializes OUTSIDE the timer (it is input construction,
    // not the operator's cost).
    val baskets = ev0.crossJoin(replicas).select(
      (col("user_id") * factor + col("rep")).as("u"), col("item"))
      .persist()
    baskets.count()
    rewarm = () => { gedges.persist(); gedges.count()
                     baskets.persist(); baskets.count(); () }
    time("assoc_rules") {
      graft.ops.Association.pairRules(baskets, "u", "item", 0.2).count()
    }
    // stage-volume curve (outside the timer): the support floor's bound on
    // the pair join as a MEASURED series across factors, not a single
    // identical-rule-set observation — n_candidate_pairs is the term that
    // would go quadratic if the item floor stopped holding
    val (abn, abi, abc, abf) = graft.ops.Association
      .pairRuleStats(baskets, "u", "item", 0.2)
    println(s"[stress] assoc_stages baskets=$abn frequent_items=$abi " +
      s"candidate_pairs=$abc frequent_pairs=$abf")
    baskets.unpersist()
    gedges.unpersist()
    }
    spark.stop()
  }
}
