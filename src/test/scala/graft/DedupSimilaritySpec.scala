package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity}

/** Behavior of the dedup/ANN operators on corpora with injected duplicates —
  * the properties (recall against exact baselines) that the rows-only
  * verification queries can't check.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** 100 docs + exact dups of the first 10 + near-dups (first 3 tokens
    * dropped) of the next 20.
    */
  private lazy val corpus: DataFrame = {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(100).cache()
    val exactDup = d.filter($"doc_id" < 10)
      .select($"doc_id" + 1000, $"text").toDF("doc_id", "text")
    val nearDup = d.filter($"doc_id" >= 10 && $"doc_id" < 30)
      .select($"doc_id" + 2000,
        expr("array_join(slice(split(text, ' '), 4, 10000), ' ')"))
      .toDF("doc_id", "text")
    d.union(exactDup).union(nearDup)
  }

  test("exact dedup removes exact duplicates, keeps smallest id") {
    val out = Dedup.exact(corpus, "text", "doc_id")
    assert(out.count() == 120) // 10 exact dups removed
    assert(out.filter($"doc_id" >= 1000 && $"doc_id" < 2000).count() == 0)
    assert(out.filter($"doc_id" < 10).count() == 10)
  }

  test("minhash pairs find injected near-dups with high estimated jaccard") {
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.4)
    val found = pairs
      .filter($"idA" >= 10 && $"idA" < 30 && $"idB" === $"idA" + 2000)
      .count()
    assert(found >= 15, s"found only $found of 20 injected near-dup pairs")
    // exact dups must all be found with estimate 1.0
    val exactFound = pairs.filter($"idB" === $"idA" + 1000 && $"jaccard_est" === 1.0).count()
    assert(exactFound == 10)
  }

  test("simhash pigeonhole blocking: recall 1.0 vs brute-force Hamming scan") {
    val blocked = Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val exact = Dedup.simhashPairsExact(corpus, "text", "doc_id", maxHamming = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(blocked == exact,
      s"pigeonhole must be exact: missing ${(exact -- blocked).take(5)}, " +
        s"spurious ${(blocked -- exact).take(5)}")
    assert(exact.nonEmpty)
    // exact dups (hamming 0) must all be present
    assert(blocked.count { case (a, b) => b == a + 1000 } == 10)
  }

  test("simhash pairs find exact dups at hamming 0") {
    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 0)
    assert(pairs.filter($"idB" === $"idA" + 1000).count() == 10)
  }

  test("ngram jaccard pairs: exact dups at jaccard 1.0, near-dups high") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 2, threshold = 0.5, maxShingleFreq = 1000)
    assert(pairs.filter($"idB" === $"idA" + 1000 && $"jaccard" === 1.0).count() == 10)
    assert(pairs.filter($"idB" === $"idA" + 2000).count() >= 15)
  }

  test("ngram jaccard equals brute force at thresholds 0.4 and 0.7") {
    // brute force: same df-filtered gram sets, all-pairs intersection
    val posting = corpus.select($"doc_id",
      explode(array_distinct(graft.expressions.TextExpressions.ngramHashes(
        graft.functions.TextFunctions.normTokens($"text"), 2))).as("g"))
    val rare = posting.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df".between(2, 1000)).select($"g")
    val sets = posting.join(rare, Seq("g"))
      .groupBy($"doc_id").agg(collect_set($"g").as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def brute(t: Double) = (for {
      (a, ga) <- sets.toSeq; (b, gb) <- sets.toSeq if a < b
      inter = (ga & gb).size
      jac = inter.toDouble / (ga.size + gb.size - inter)
      if jac >= t
    } yield (a, b, math.rint(jac * 1e9) / 1e9)).toSet
    for (t <- Seq(0.4, 0.7)) {
      val got = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
          n = 2, threshold = t, maxShingleFreq = 1000)
        .select($"idA", $"idB", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      val exp = brute(t)
      assert(got == exp, s"t=$t " +
        s"missing=${(exp -- got).take(3)} spurious=${(got -- exp).take(3)}")
      assert(exp.nonEmpty, s"t=$t brute-force fixture empty")
    }
  }

  test("ngram jaccard overlap kernel equals brute force on id, df-cap and threshold edges") {
    // unigrams; cap 3: "cap" (df 3) is kept, "hot" (df 4) is dropped, s*
    // (df 1) are dropped, so doc e's rare set is empty. The null-id doc
    // counts toward df: "w" reaches df 4 only through it and is dropped,
    // and "x1" stays rare at df 3; a null id pairs with nothing.
    val (a, b, c, d, e) = (-7L, (1L << 41) + 3, -(1L << 42), 5L, (1L << 40) + 9)
    val docs = Seq(
      Some(a) -> "cap x1 x2 hot sa w",
      Some(b) -> "cap x1 x2 hot sb",
      Some(c) -> "cap y1 hot w",
      Some(d) -> "y1 sd w",
      Some(e) -> "se1 se2 hot",
      None    -> "w x1 sn").toDF("doc_id", "text")
    val sets = docs.as[(Option[Long], String)].collect().toSeq
      .map { case (id, t) => id -> t.split(" ").toSet }
    val df = sets.flatMap(_._2).groupBy(identity).map { case (g, gs) => g -> gs.size }
    assert(df("w") == 4 && sets.count { case (id, gs) => id.nonEmpty && gs("w") } == 3)
    val rare = sets.collect { case (Some(id), gs) =>
      id -> gs.filter(g => df(g) >= 2 && df(g) <= 3) }.toMap
    assert(rare(e).isEmpty && rare(a) == Set("cap", "x1", "x2"))
    def brute(t: Double) = (for {
      (x, gx) <- rare.toSeq; (y, gy) <- rare.toSeq
      if x < y && (gx & gy).nonEmpty
      inter = (gx & gy).size
      jac = inter.toDouble / (gx.size + gy.size - inter)
      if jac >= t
    } yield (x, y, jac)).toSet
    // jaccard(c, a) = jaccard(c, b) = 1/4 and jaccard(c, d) = 1/2 exactly
    val expected = Map(
      0.0  -> Set((c, a, 0.25), (c, b, 0.25), (c, d, 0.5), (a, b, 1.0)),
      0.25 -> Set((c, a, 0.25), (c, b, 0.25), (c, d, 0.5), (a, b, 1.0)),
      0.5  -> Set((c, d, 0.5), (a, b, 1.0)))
    for ((t, exp) <- expected) {
      val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 1, threshold = t, maxShingleFreq = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(brute(t) == exp, s"t=$t brute force disagrees with the fixture")
      assert(got == exp, s"t=$t " +
        s"missing=${exp -- got} spurious=${got -- exp}")
    }
  }

  test("ngram jaccard keeps a pair whose jaccard meets the overlap bound exactly") {
    // A's rare set {t1, t2, t3} strictly contains B's {t1, t2}, so the
    // jaccard 2/3 equals the kernel's bound inter / szA
    val docs = Seq(1L -> "t1 t2 t3", 2L -> "t1 t2", 3L -> "t3 u1")
      .toDF("doc_id", "text")
    def pairs(t: Double) = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 1, threshold = t, maxShingleFreq = 10)
      .filter($"idB" === 2L).as[(Long, Long, Double)].collect().toSet
    val tight = 2.0 / 3.0
    assert(pairs(tight) == Set((1L, 2L, tight)))
    assert(pairs(Math.nextUp(tight)).isEmpty)
  }

  test("ngram jaccard pairs hold no checkpoint, so lost partitions recompute") {
    val plan = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 2, threshold = 0.5, maxShingleFreq = 1000).queryExecution.analyzed
    assert(plan.collect { case r: LogicalRDD => r }.isEmpty, plan.treeString)
  }

  test("connectedComponents: chain, triangle, isolated pair, long path") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair),
    // {30..39} (10-node path — exercises multi-round propagation)
    val pathEdges = (30L until 39L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)) ++ pathEdges).toDF("idA", "idB")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(got(_) == 1L))
    assert((10L to 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert((30L to 39L).forall(got(_) == 30L))
    assert(got.size == 19)
    // edge direction must not matter
    val rev = Dedup.connectedComponents(
      pairs.select($"idB".as("idA"), $"idA".as("idB")))
      .as[(Long, Long)].collect().toMap
    assert(rev == got)
  }

  test("connectedComponents: 1024-node path converges in O(log d) rounds") {
    // diameter-1023 path graph — the adversarial case for label propagation
    // (plain min-label would need ~1023 rounds; pointer jumping squares the
    // propagated distance per round, so ~log2(1023) + detection)
    val edges = spark.range(1023).select($"id".as("idA"), ($"id" + 1).as("idB"))
    val (labels, iters) = Dedup.connectedComponentsWithStats(edges, maxIter = 20)
    val comps = labels.as[(Long, Long)].collect()
    assert(comps.length == 1024)
    assert(comps.forall(_._2 == 0L), "all nodes must join component 0")
    assert(iters <= 15, s"pointer jumping should need ~10 rounds on d=1023, took $iters")
  }

  test("connectedComponents with reliable checkpoints matches local variant") {
    val prior = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(TestSpark.tmpDir("cc-ckpt"))
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
      val reliable = TestSpark.withReliableMaterialize {
        Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      }
      val local = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally prior.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("splitByCluster: near-dup pairs never straddle a split boundary") {
    val docs = spark.range(200).select($"id".as("doc_id"),
      concat(lit("doc "), $"id").as("text"))
    // clusters: {1,2,3}, {50,51}, {60,61,62,63} — plus 193 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 51L),
      (60L, 61L), (61L, 62L), (62L, 63L)).toDF("idA", "idB")
    val got = Dedup.splitByCluster(docs, "doc_id", pairs, Seq(80, 10, 10),
        labelCol = Some("cluster"))
      .select($"doc_id", $"split", $"cluster")
      .as[(Long, Int, Long)].collect()
    assert(got.length == 200, "row count must be preserved")
    assert(got.forall(r => r._2 >= 0 && r._2 <= 2))
    val splitOf = got.map(r => r._1 -> r._2).toMap
    for ((a, b) <- Seq((1L, 2L), (2L, 3L), (1L, 3L), (50L, 51L),
        (60L, 63L), (61L, 62L)))
      assert(splitOf(a) == splitOf(b), s"near-dups $a/$b split apart")
    // unclustered docs fall back to their own id: identical to a plain
    // splitByKey on doc_id
    val clustered = Set(1L, 2L, 3L, 50L, 51L, 60L, 61L, 62L, 63L)
    val plain = graft.ops.Sampling.splitByKey(docs, "doc_id", Seq(80, 10, 10))
      .select($"doc_id", $"split").as[(Long, Int)].collect().toMap
    got.filterNot(r => clustered(r._1)).foreach { r =>
      assert(r._2 == plain(r._1), s"singleton ${r._1} diverged from splitByKey")
    }
    // cluster label is the component min for clustered docs
    val labelOf = got.map(r => r._1 -> r._3).toMap
    assert(Seq(1L, 2L, 3L).forall(labelOf(_) == 1L))
    assert(Seq(60L, 61L, 62L, 63L).forall(labelOf(_) == 60L))
  }

  test("simhash bucket cap drops degenerate buckets; carve-out is auditable") {
    // 60 identical (empty-ish) docs -> one simhash value, every chunk bucket
    // holds all 60 rows; cap 50 drops them, so NO pairs among the clones —
    // and simhashDroppedBuckets reports exactly those buckets
    val clones = (0L until 60L).map(i => (i, "the same boilerplate text"))
    val distinctDocs = (100L until 110L).map(i => (i, s"unique document number $i with extra words $i"))
    val df = (clones ++ distinctDocs).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(df, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 50)
    assert(capped.filter($"idA" < 60 && $"idB" < 60).count() == 0,
      "clone pairs must be dropped by the bucket cap")
    val dropped = Dedup.simhashDroppedBuckets(df, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 50)
    assert(dropped.count() == 4, "all 4 chunk buckets of the clone hash are over-cap")
    assert(dropped.agg(max($"bucket_n")).head.getLong(0) == 60L)
    // uncapped default keeps the clone pairs (60 choose 2)
    val full = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 3)
    assert(full.filter($"idA" < 60 && $"idB" < 60).count() == 60L * 59 / 2)
  }

  test("int8 quantization: bounded reconstruction error, ANN survives storage round trip") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val q = emb.withColumn("qv", VF.quantizeInt8($"v"))
      .withColumn("back", VF.dequantizeInt8($"qv"))
    // per-element error <= scale/2; codes fit int8
    val bad = q.filter(
      aggregate(zip_with($"back", $"v", (b, x) => abs(b - x)),
        lit(0.0), (a, e) => greatest(a, e)) > $"qv.scale" * 0.5000001)
    assert(bad.count() == 0)
    val codeRange = q.select(array_max(transform($"qv.codes", c => abs(c.cast("int"))))
      .as("m")).agg(max($"m")).head.getInt(0)
    assert(codeRange <= 127)
    // ANN on dequantized vectors reproduces exact top-5 almost perfectly
    val deq = q.select($"vec_id", $"back".as("v"))
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, "v", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val onQuant = Similarity.bruteForceTopK(queries, deq, "v", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & onQuant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized-storage recall@5 = $recall")
  }

  test("ivfTopK k-means centroids give high recall on a CLUSTERED corpus") {
    // 4 tight clusters around orthogonal axes, ids assigned cluster-major —
    // the adversarial layout for any fixed-row centroid scheme (the first
    // nCentroids ids all live in cluster 0); k-means must spread the cells
    // onto the clusters or cross-cluster neighbors dominate the probes.
    val dim = 8
    val rows = for {
      c <- 0 until 4
      j <- 0 until 100
    } yield {
      val id = c * 100L + j
      val v = Array.tabulate(dim)(i =>
        (if (i == c) 1.0 else 0.0) + ((id * 31 + i * 7) % 97) / 97.0 * 0.08)
      (id, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" % 100 < 3) // 3 per cluster, all clusters
    val exact = Similarity.bruteForceTopK(queries, df, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, df, "embedding", "vec_id", 5,
        nCentroids = 4, nProbe = 2, kmeansIters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"k-means IVF recall@5 on clustered corpus = $recall")
  }

  test("embedding LSH pairs are a subset of exact pairs with decent recall") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Dedup.embeddingPairsExact(emb, "embedding", "vec_id", 0.35)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingPairs(emb, "embedding", "vec_id",
      threshold = 0.35, sigBits = 4, nTables = 8)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH pairs must verify the same cosine threshold")
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.5,
      s"recall ${lsh.size}/${exact.size} too low")
  }

  test("LSH top-k recall against brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(queries, emb, "embedding", "vec_id", 10,
      sigBits = 10, probeHamming = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall@10 = $recall")
  }

  test("semanticDedup: drops planted near-dups, never drops what exact keeps") {
    // clustered corpus (4 orthogonal-axis clusters) + a perturbed copy of
    // every 5th row: exact all-pairs dedup at 0.95 drops exactly the copies.
    val dim = 8
    val rows = for {
      c <- 0 until 4
      j <- 0 until 50
    } yield {
      val id = c * 50L + j
      val v = Array.tabulate(dim)(i =>
        (if (i == c) 1.0 else 0.0) + ((id * 31 + i * 7) % 97) / 97.0 * 0.08)
      (id, v)
    }
    val base = rows.toDF("vec_id", "embedding")
    val dups = rows.filter(_._1 % 5 == 0)
      .map { case (id, v) => (id + 10000L, v.map(_ * 1.0000001)) }
      .toDF("vec_id", "embedding")
    val corpus = base.union(dups)
    val kept = Dedup.semanticDedup(corpus, "embedding", "vec_id",
        threshold = 0.95, nCentroids = 4, kmeansIters = 3)
      .select("vec_id").as[Long].collect().toSet
    // exact baseline: a row is dropped iff a lower-id row anywhere has
    // cosine >= threshold
    val exactDropped = Dedup.embeddingPairsExact(corpus, "embedding",
        "vec_id", 0.95)
      .select("idB").distinct().as[Long].collect().toSet
    val semDropped = corpus.select("vec_id").as[Long].collect().toSet -- kept
    assert(semDropped.subsetOf(exactDropped),
      "semanticDedup dropped a row the exact baseline keeps")
    val recall = semDropped.size.toDouble / exactDropped.size
    assert(recall >= 0.9, s"semantic dedup recall = $recall")
    // survivors carry their cell assignment
    val cells = Dedup.semanticDedup(corpus, "embedding", "vec_id",
      threshold = 0.95, nCentroids = 4, kmeansIters = 3)
    assert(cells.columns.toSeq == Seq("vec_id", "cell"))
    // auto-sized default (nCentroids = 0 -> suggestedCells) still never
    // drops a row the exact baseline keeps
    val keptAuto = Dedup.semanticDedup(corpus, "embedding", "vec_id",
        threshold = 0.95, kmeansIters = 3)
      .select("vec_id").as[Long].collect().toSet
    val autoDropped = corpus.select("vec_id").as[Long].collect().toSet -- keptAuto
    assert(autoDropped.subsetOf(exactDropped),
      "auto-sized semanticDedup dropped a row the exact baseline keeps")
  }

  test("calibratedSigBits widens past the analytic rule on a correlated corpus") {
    // 4000 vectors in 40 tight clusters of 100: the analytic rule sees
    // n=4000 -> 9 bits (occupancy ~8 if uniform), but whole clusters
    // share signatures, so measured occupancy is ~cluster-sized and the
    // calibration must add bits
    val rows = (0 until 4000).map { i =>
      val c = i % 40
      val base = Array.tabulate(16)(j => math.sin(c * 37.0 + j * 1.7))
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        x + 1e-4 * math.sin(i * 13.0 + j) })
    }
    val df = rows.toDF("vec_id", "embedding")
    val analytic = Dedup.suggestedSigBits(4000)
    val calibrated = Dedup.calibratedSigBits(df, "embedding")
    assert(calibrated > analytic,
      s"calibration must widen: analytic $analytic, calibrated $calibrated")
    // an UNcorrelated corpus of the same size stays at (or near) analytic
    val rnd = new scala.util.Random(7)
    val uni = (0 until 4000).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val uc = Dedup.calibratedSigBits(uni, "embedding")
    assert(uc <= analytic + 1, s"uniform corpus over-widened: $uc vs $analytic")
    // empty corpus: no histogram to probe — falls back to the analytic
    // floor instead of NPEing on the null percentile row
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    assert(Dedup.calibratedSigBits(empty, "embedding") ==
      Dedup.suggestedSigBits(0))
  }

  test("suggestedCells tracks corpus/targetCellSize with a floor of 16") {
    assert(Dedup.suggestedCells(0L) == 16)
    assert(Dedup.suggestedCells(30000L) == 16)      // 15 cells -> floor
    assert(Dedup.suggestedCells(200000L) == 100)    // the bench-derived rule
    assert(Dedup.suggestedCells(1000000L) == 500)
    assert(Dedup.suggestedCells(10000L, targetCellSize = 100) == 100)
  }

  test("dedupLines strips lines shared by >= minDocs docs, keeps order") {
    val docs = Seq(
      (1L, "HEADER\nalpha one\nbeta two\nFOOTER"),
      (2L, "HEADER\ngamma three\nFOOTER"),
      (3L, "HEADER\ndelta four\nbeta two\nFOOTER"),
      (4L, "HEADER\nFOOTER"), // fully boilerplate -> empty text
      (5L, "HEADER\nepsilon five\nFOOTER")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id", minDocs = 4)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha one\nbeta two")
    assert(out(2L) == "gamma three")
    assert(out(3L) == "delta four\nbeta two") // 'beta two' in only 2 docs: kept
    assert(out(4L) == "")
    assert(out(5L) == "epsilon five")
    assert(out.size == 5)
  }

  test("embeddingDedupClustered keeps exactly the min id per component") {
    // q58-style corpus with TWO perturbation levels -> chains a~b~c where
    // the a~c link may or may not pass the threshold; cluster semantics
    // must keep exactly one representative per component either way
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    def perturb(src: org.apache.spark.sql.DataFrame, off: Long, eps: Double) =
      src.select(($"vec_id" + off).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> x + $eps * " +
          "element_at(embedding, cast(pmod(i + 1, size(embedding)) + 1 as int)))")
          .as("embedding"))
    val lvl1 = perturb(emb, 100000L, 0.05)
    val lvl2 = perturb(lvl1, 100000L, 0.05) // ids +200000, chained via lvl1
    val corpus = emb.unionByName(lvl1).unionByName(lvl2)
    val survivors = Dedup.embeddingDedupClustered(corpus, "embedding",
        "vec_id", threshold = 0.9, sigBits = 10, nTables = 12)
      .select("vec_id").as[Long].collect().toSet
    val pairs = Dedup.embeddingPairs(corpus, "embedding", "vec_id",
      threshold = 0.9, sigBits = 10, nTables = 12)
    val comps = Dedup.connectedComponents(pairs.select($"idA", $"idB"))
      .as[(Long, Long)].collect()
    val reps = comps.filter { case (id, c) => id == c }.map(_._1).toSet
    val nonReps = comps.filter { case (id, c) => id != c }.map(_._1).toSet
    assert(reps.subsetOf(survivors))
    assert(nonReps.intersect(survivors).isEmpty)
    val allIds = corpus.select("vec_id").as[Long].collect().toSet
    assert((allIds -- comps.map(_._1).toSet).subsetOf(survivors))
    // the planted chains actually collapse: every original id survives,
    // every perturbed id is dropped (chain link cosine ~0.99875 >> 0.9)
    assert(emb.select("vec_id").as[Long].collect().toSet.subsetOf(survivors))
    assert(survivors.count(_ >= 100000L) == 0)
  }

  test("incremental dedup vs persisted signatures == full-rebuild cross pairs") {
    val base = corpus.filter($"doc_id" < 1000) // originals only
    val root = TestSpark.tmpDir("inc-sigs")
    Dedup.writeMinhashSignatures(base, "text", "doc_id", s"$root/sigs",
      shingleSize = 2, numHashes = 64)
    // the near-dup replicas act as "today's ingest"
    val batch = corpus.filter($"doc_id" >= 2000)
    val sigs = spark.read.parquet(s"$root/sigs")
    val inc = Dedup.dedupAgainstSignatures(batch, "text", "doc_id", sigs,
        shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.4)
      .select($"new_id", $"existing_id").as[(Long, Long)].collect().toSet
    // full rebuild reference: minhashPairs over base ∪ batch, restricted to
    // cross pairs (same banding, same threshold)
    val full = Dedup.minhashPairs(base.union(batch), "text", "doc_id",
        shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.4)
      .filter($"idB" >= 2000 && $"idA" < 1000)
      .select($"idB", $"idA").as[(Long, Long)].collect().toSet
    assert(inc == full, s"incremental ${inc.size} vs full-rebuild ${full.size}")
    assert(inc.nonEmpty, "injected near-dups must be flagged")
    // every batch doc's mutation source must be among its matches
    val sources = inc.collect { case (n, e) if e == n - 2000 => n }
    assert(sources.size >= 15, s"only ${sources.size}/20 planted dups caught")
  }

  test("persisted IVF index: partition-pruned serving matches brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    val root = TestSpark.tmpDir("ivf-index")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", root,
      nCentroids = 8, kmeansIters = 2)
    // layout: one directory per cell; centroid side table rides along
    val dirs = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.size <= 8, s"cell directories: $dirs")
    val queries = emb.filter($"vec_id" < 5)
    val res = Similarity.queryIvfIndex(spark, root, queries, "embedding",
      "vec_id", k = 5, nProbe = 3)
    // serving must plan a dynamic partition-pruning filter on cell: only
    // probed cell directories are read
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell:\n$plan")
    val got = res.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((exact & got).size.toDouble / exact.size >= 0.2)
    // all returned cosines are exact, so any hit agrees with brute force
    assert(res.groupBy("query_id").count().select("count")
      .as[Long].collect().forall(_ == 5))
  }

  test("IVF top-k returns k deterministic-ranked rows per query") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val out = Similarity.ivfTopK(queries, emb, "embedding", "vec_id", 5,
      nCentroids = 8, nProbe = 3)
    val counts = out.groupBy("query_id").count().select("count")
      .as[Long].collect()
    assert(counts.forall(_ == 5))
    val exact = Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = out.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((exact & ivf).size.toDouble / exact.size >= 0.2)
  }

  test("repeatedSpanStats: cross-doc, self-repetition, disjoint spans, short docs") {
    // hand-checkable fixture at k=3:
    //  1 "a b c d e f"       shares [a b c],[b c d] with doc 2 and
    //                         [d e f] with docs 6/7 -> 1 merged span, 6/6 covered
    //  2 "x y a b c d z"     same two windows at pos 2,3       -> 1 span, 4/7
    //  3 "p q r" x3          every window repeats within-doc    -> 1 span, 9/9
    //  4 five unique tokens  no repeats                          -> zeros
    //  5 "one two"           shorter than k                      -> zeros
    //  6/7 shared prefix + shared suffix around distinct middles -> 2 spans each
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "p q r p q r p q r"),
      (4L, "solo unique tokens entirely here"),
      (5L, "one two"),
      (6L, "a b c g1 g2 g3 g4 d e f"),
      (7L, "a b c h1 h2 h3 h4 d e f")).toDF("doc_id", "text")
    val got = Dedup.repeatedSpanStats(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = Seq(
      (1L, 6L, 3L, 1L, 1.0),
      (2L, 7L, 2L, 1L, 0.571429),
      (3L, 9L, 7L, 1L, 1.0),
      (4L, 5L, 0L, 0L, 0.0),
      (5L, 2L, 0L, 0L, 0.0),
      (6L, 10L, 2L, 2L, 0.6),
      (7L, 10L, 2L, 2L, 0.6))
    assert(got == expected)
  }
}
