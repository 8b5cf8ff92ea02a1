package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SkewJoin
import graft.io.TypedSources

object ScaleOpsSpec {
  final case class Part(p_partkey: Long, p_name: String, p_size: Int)
}

/** Scale-infrastructure operators: salted joins, typed Aggregator UDAFs,
  * typed sources, bucketed co-located joins.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals plain join on a skewed key") {
    // one hot key (0) with 1000 rows, 10 cold keys
    val left = spark.range(1100)
      .select((when($"id" < 1000, 0L).otherwise($"id" - 999)).as("k"), $"id".as("v"))
    val right = Seq((0L, "hot"), (1L, "c1"), (2L, "c2")).toDF("rk", "name")
    val plain = left.join(right, $"k" === $"rk").drop("rk")
      .orderBy("k", "v").collect().toSeq
    val salted = SkewJoin.saltedJoin(left, right, "k", "rk", factor = 8)
      .orderBy("k", "v").collect().toSeq
    assert(salted == plain)
  }

  test("typed sources round-trip a case class dataset (A20)") {
    import ScaleOpsSpec.Part
    val dir = TestSpark.tmpDir("typed-src")
    val src = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select($"p_partkey", $"p_name", $"p_size").as[Part]
    TypedSources.writeOrc(src, s"$dir/part")
    val back = TypedSources.orc[Part](spark, s"$dir/part")
    assert(back.count() == src.count())
    assert(back.filter(_.p_size > 25).count() == src.filter(_.p_size > 25).count())
  }

  test("TopK aggregate equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val viaAgg = graft.ops.TopK.perGroup(
        orders.withColumn("pay", $"o_orderpriority"),
        "o_custkey", "o_totalprice", "o_orderkey", "pay", k = 3)
      .select($"group", $"score", $"tie", $"rank")
      .orderBy($"group", $"rank").collect().toSeq
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val viaWindow = orders
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"o_custkey".as("group"), $"o_totalprice".as("score"),
        $"o_orderkey".as("tie"), $"rank")
      .orderBy($"group", $"rank").collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("TopK aggregate is map-side partial (no full-row shuffle)") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = graft.ops.TopK.perGroup(
        orders.withColumn("pay", $"o_orderpriority"),
        "o_custkey", "o_totalprice", "o_orderkey", "pay", k = 3)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate partial_topkagg before the exchange
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected aggregate-based plan:\n$plan")
    assert(plan.contains("partial_"), s"expected partial aggregation:\n$plan")
  }

  test("SQL surface: graft_* functions callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql("""
      SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
             graft_simhash(graft_token_hashes(graft_norm_tokens('The cat, the hat'))) AS sh,
             size(graft_minhash(graft_ngram_hashes(graft_norm_tokens('a b c d'), 2), 16)) AS m,
             graft_hyperplane_sig(array(1.0D, 2.0D), 8) AS hs,
             graft_l2_normalize(array(3.0D, 4.0D)) AS nv,
             graft_dequantize_int8(graft_quantize_int8(array(1.0D, -0.5D, 0.25D))) AS dq,
             size(graft_random_projection(array(1.0D, 2.0D, 3.0D), 8, 7)) AS rp,
             graft_nfc_normalize('Café') AS nfc
    """).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(2) == 16)
    assert(r.getLong(3) >= 0 && r.getLong(3) < 256)
    assert(r.getSeq[Double](4) == Seq(0.6, 0.8))
    val dq = r.getSeq[Double](5)
    assert(dq.zip(Seq(1.0, -0.5, 0.25)).forall { case (a, b) => math.abs(a - b) < 0.005 })
    assert(r.getInt(6) == 8)
    assert(r.getString(7) == "Café")
  }

  test("sampleByKey is stable under repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = graft.ops.Sampling.sampleByKey(docs, "doc_id", 20)
      .select("doc_id").as[Long].collect().toSet
    val b = graft.ops.Sampling.sampleByKey(docs.repartition(17), "doc_id", 20)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty && a.size < docs.count())
  }

  test("keyHash matches the BigInt reference over the FULL long range (ANSI-safe)") {
    // the overflow trap: keys >= 2^31 would wrap a naive key*2654435761
    // multiply differently in 64-bit Java than in DuckDB's 128-bit engine
    val M = BigInt(2654435761L)
    def ref(key: Long): Long = {
      val k = BigInt((key & 0xFFFFFFFFL) ^ ((key >> 32) & 0xFFFFFFFFL))
      val (hi, lo) = (k >> 16, k & 0xFFFF)
      (((hi * M) % BigInt(4294967296L) * 65536 + lo * M) % BigInt(4294967296L)).toLong
    }
    val keys = Seq(0L, 1L, 7L, 999983L, 1L << 30, 1L << 31, (1L << 32) - 1,
      1L << 32, (1L << 40) + 12345L, (1L << 62) + 7L, -1L, -(1L << 35),
      Long.MinValue, Long.MaxValue) ++
      new scala.util.Random(42).shuffle((0 until 200).map(i =>
        new scala.util.Random(i).nextLong()))
    val df = keys.toDF("k")
      .select(col("k"), graft.ops.Sampling.keyHash(col("k")).as("h"))
    df.collect().foreach { r =>
      val (k, h) = (r.getLong(0), r.getLong(1))
      assert(h == ref(k), s"keyHash($k) = $h != ${ref(k)}")
      assert(h >= 0 && h < 4294967296L)
    }
    // classic-Knuth equivalence for small nonneg keys (oracle continuity)
    keys.filter(k => k >= 0 && k < (1L << 32)).foreach { k =>
      assert(ref(k) == (BigInt(k) * M % BigInt(4294967296L)).toLong)
    }
  }

  test("sampleByKey is stable for keys beyond 2^32") {
    val big = (0 until 1000).map(i => (1L << 33) + i * ((1L << 32) + 7L)).toDF("doc_id")
    val a = graft.ops.Sampling.sampleByKey(big, "doc_id", 25)
      .as[Long].collect().toSet
    val b = graft.ops.Sampling.sampleByKey(big.repartition(13), "doc_id", 25)
      .as[Long].collect().toSet
    assert(a == b)
    // a degenerate hash (e.g. one ignoring high bits of distinct-high keys)
    // would select ~0% or ~100%; the multiplicative hash keeps it near 25%
    assert(a.size > 150 && a.size < 350, s"got ${a.size}/1000 at 25%")
  }

  test("splitByKey: exhaustive, disjoint, stable, holdout index for remainder") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = graft.ops.Sampling.splitByKey(docs, "doc_id", Seq(80, 10, 5))
    val byIdx = split.groupBy("split").count()
      .as[(Int, Long)].collect().toMap
    val n = docs.count()
    assert(byIdx.keySet.subsetOf(Set(0, 1, 2, -1)))
    assert(byIdx.values.sum == n)
    assert(byIdx(0) > byIdx.getOrElse(1, 0L)) // 80% dwarfs 10%
    // stability: same assignment under repartitioning
    val again = graft.ops.Sampling.splitByKey(docs.repartition(13), "doc_id", Seq(80, 10, 5))
      .select("doc_id", "split").as[(Long, Int)].collect().toMap
    val first = split.select("doc_id", "split").as[(Long, Int)].collect().toMap
    assert(again == first)
    // splits are also consistent with sampleByKey's bucket arithmetic:
    // split 0 at 80% == the 80% sample
    val s80 = graft.ops.Sampling.sampleByKey(docs, "doc_id", 80)
      .select("doc_id").as[Long].collect().toSet
    assert(first.filter(_._2 == 0).keySet == s80)
  }

  test("mixtureSample keeps per-group rates, key-stable") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val langs = docs.select("lang").distinct().as[String].collect().sorted
    val rates = Map(langs.head -> 100, langs.last -> 0)
    val out = graft.ops.Sampling.mixtureSample(docs, "lang", "doc_id",
      rates, defaultPercent = 50)
    val in0 = docs.filter($"lang" === langs.head).count()
    assert(out.filter($"lang" === langs.head).count() == in0) // 100% kept
    assert(out.filter($"lang" === langs.last).count() == 0)   // 0% kept
    // default-rate groups: same rows as sampleByKey(50) restricted to them
    val mid = langs.tail.dropRight(1).toSet
    val expect = graft.ops.Sampling.sampleByKey(docs, "doc_id", 50)
      .filter($"lang".isin(mid.toSeq: _*))
      .select("doc_id").as[Long].collect().toSet
    val got = out.filter($"lang".isin(mid.toSeq: _*))
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect)
  }

  test("LSH candidate self-joins ship ids only — no signatures or vectors") {
    // the 100 TB discipline: the dominant shuffle (bucket-key self-join +
    // pair dedup) must carry (bucket hash, 8-byte id) rows; payloads join
    // back only for the bounded candidate set. A regression that threads
    // __sig / __v through the candidate join multiplies that shuffle ~100x.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(200)
    val joins = graft.llm.Dedup
      .minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.exists(_.toString.contains("bhash")) => j
      }
    assert(joins.nonEmpty, "candidate join on (band, bhash) not found in plan")
    joins.foreach { j =>
      val out = j.output.map(_.name)
      assert(!out.exists(_.contains("__sig")),
        s"candidate join must not carry signatures: $out")
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ejoins = graft.llm.Dedup
      .embeddingPairs(emb, "embedding", "vec_id", threshold = 0.9)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.exists(_.toString.contains("sig")) => j
      }
    assert(ejoins.nonEmpty, "candidate join on (tbl, sig) not found in plan")
    ejoins.foreach { j =>
      val out = j.output.map(_.name)
      assert(!out.exists(_.contains("__v")),
        s"candidate join must not carry vectors: $out")
    }
  }

  test("dedup bucket caps are aggregation-based — no Window over the bucket key") {
    // a Window partitioned by the bucket key funnels the hot bucket through
    // one task BEFORE the cap filter runs; the groupBy-count + anti-join
    // form absorbs the skew in map-side partials (VERDICT r2 finding #2)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(200)
    val mh = graft.llm.Dedup.minhashPairs(docs, "text", "doc_id", maxBucketSize = 10)
      .queryExecution.sparkPlan.toString
    assert(!mh.contains("Window"), s"minhashPairs cap must not use a Window:\n$mh")
    assert(mh.contains("HashAggregate"), "expected partial/final count aggregate")
    val sh = graft.llm.Dedup.simhashPairs(docs, "text", "doc_id", maxBucketSize = 10)
      .queryExecution.sparkPlan.toString
    assert(!sh.contains("Window"), s"simhashPairs cap must not use a Window:\n$sh")
  }

  test("salting levels a planted hot key that plain key-partitioning cannot") {
    // hot key: 100k identical-key rows; AQE's skew handling can split a
    // skewed JOIN partition but can never split a hot GROUP BY key (grouping
    // requires co-location) — salting is the tool there. The physical
    // effect: max rows landing on one partition drops ~factor-fold.
    val hot = spark.range(100000).select(lit("h").as("k"), $"id".as("v"))
    val cold = spark.range(1000)
      .select(concat(lit("c"), $"id" % 100).as("k"), $"id".as("v"))
    val left = hot.union(cold)
    def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
      df.rdd.mapPartitions(it => Iterator.single(it.length.toLong)).collect().max
    val plainMax = maxPartRows(left.repartition(32, $"k"))
    // same salt derivation as SkewJoin.saltedJoin(saltKey = Some("v"))
    val salted = left.withColumn("__salt",
      pmod(xxhash64($"v"), lit(16)).cast("int"))
    val saltedMax = maxPartRows(salted.repartition(32, $"k", $"__salt"))
    assert(plainMax >= 100000L, s"hot key must land on one partition, got $plainMax")
    // 16 salt cells hash into 32 partitions, so a partition can catch 2-3
    // cells (~6250 rows each): assert the ~order-of-magnitude leveling
    assert(saltedMax <= plainMax / 4,
      s"salting should level the hot key, got max $saltedMax vs plain $plainMax")
    // and saltedJoin's own pre-AQE plan shuffles on (key, salt)
    val right = (0 until 20).map(i => (s"c$i", i)).toDF("rk", "x")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // exchanges are inserted by the plan preparations (EnsureRequirements),
      // so look at executedPlan's rendering (AQE initial plan), not sparkPlan
      val plan = SkewJoin
        .saltedJoin(left, right, "k", "rk", factor = 16, saltKey = Some("v"))
        .queryExecution.executedPlan.toString
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
        s"expected a shuffle hash-partitioned by (key, __salt):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("temperaturePercents: tau=1 natural, tau=2 flattens head toward uniform") {
    // skewed mixture: 900 'en', 90 'fr', 10 'is'
    val df = ((0 until 900).map(i => (i.toLong, "en")) ++
      (0 until 90).map(i => (1000L + i, "fr")) ++
      (0 until 10).map(i => (2000L + i, "is"))).toDF("doc_id", "lang")
    val natural = graft.ops.Sampling.temperaturePercents(df, "lang", tau = 1.0)
    assert(natural == Map("en" -> 100, "fr" -> 100, "is" -> 100))
    val flat = graft.ops.Sampling.temperaturePercents(df, "lang", tau = 2.0)
    // head language downsampled, tail kept whole, middle in between
    assert(flat("en") < 100 && flat("is") == 100)
    assert(flat("en") < flat("fr"))
    // flattened shares: expected kept counts move toward uniform
    val kept = graft.ops.Sampling.mixtureSample(df, "lang", "doc_id", flat)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(kept("en") < 900 && kept("is") == 10)
  }

  test("chunkDocs: full coverage, stride overlap, short tail, empty doc") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks: chunks at 0,4,8
      (2L, "a b"),                                    // single short chunk
      (3L, "")                                        // no chunks
    ).toDF("doc_id", "text")
    val got = graft.functions.TextFunctions
      .chunkDocs(df, "text", "doc_id", chunkTokens = 6, stride = 4)
      .orderBy($"doc_id", $"chunk_id")
      .as[(Long, Long, String, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 1L, 1L, 2L))
    assert(got(0)._3 == "w1 w2 w3 w4 w5 w6" && got(0)._4 == 6L)
    assert(got(1)._3 == "w5 w6 w7 w8 w9 w10" && got(1)._4 == 6L)
    assert(got(2)._3 == "w9 w10" && got(2)._4 == 2L) // short tail
    assert(got(3)._3 == "a b" && got(3)._4 == 2L)
    // every token appears in at least one chunk
    val covered = got.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("MisraGries: guarantee holds across partitions; counts within N/(k+1)") {
    // zipf-ish fixture: token t_i appears 2^(10-i) times, spread over many
    // partitions so partial sketches MUST merge
    val rows = (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"t$i"))
    val df = rows.toDS().repartition(16)
    val k = 4
    val sketch = df.select(graft.ops.TypedAggregators.misraGries(k)).head()
    assert(sketch.size <= k)
    val n = rows.size
    val exact = rows.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val guaranteed = exact.filter(_._2 * (k + 1) > n).keySet
    assert(guaranteed.nonEmpty)
    assert(guaranteed.subsetOf(sketch.keySet),
      s"guaranteed $guaranteed missing from sketch ${sketch.keySet}")
    // count error bounded by N/(k+1)
    sketch.foreach { case (t, c) =>
      assert(math.abs(c - exact.getOrElse(t, 0L)) <= n / (k + 1),
        s"count error for $t: sketch $c vs exact ${exact.get(t)}")
    }
  }

  test("Profile.summarize matches per-column aggregates, one row per column") {
    val df = Seq(
      (1L, Some("a"), 1.5), (2L, None, 2.5), (3L, Some("b"), 1.5), (4L, Some("a"), 0.5)
    ).toDF("id", "s", "d")
    val got = graft.ops.Profile.summarize(df, Seq("id", "s", "d"))
      .orderBy($"column")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    assert(got(0) == ("d", 4L, 0L, 3L, "0.5", "2.5"))
    assert(got(1) == ("id", 4L, 0L, 4L, "1", "4"))
    assert(got(2) == ("s", 4L, 1L, 2L, "a", "b"))
    // approx variant keeps the same shape
    val approx = graft.ops.Profile.summarize(df, Seq("id"), approxDistinct = true)
      .collect()(0)
    assert(approx.getLong(3) >= 3L && approx.getLong(3) <= 5L)
  }

  test("groupedRunningSum equals the single-task window cumsum, incl. skew") {
    // one giant group (g0: 5000 rows) + tiny groups + a group spanning
    // every range partition — forced through 8 partitions so groups MUST
    // straddle partition boundaries and the offset phase does real work
    val rows = (0L until 5000L).map(i => ("g0", i, i % 7 + 1)) ++
      (0L until 40L).map(i => ("g1", i, i + 1)) ++
      Seq(("g2", 0L, 100L))
    val df = rows.toDF("grp", "ord", "v")
    val got = graft.ops.PrefixSum.groupedRunningSum(df, "grp", "ord",
        $"v", "cum", numPartitions = 8)
      .select($"grp", $"ord", $"cum")
      .as[(String, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"grp").orderBy($"ord")
    val expected = df.withColumn("cum", sum($"v".cast("long")).over(w))
      .select($"grp", $"ord", $"cum")
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("groupedRunningSums (multi-column) equals N chained single calls") {
    // same skewed fixture: the one-pass variant must agree per column
    // with the chained single-column version on every row
    val rows = (0L until 3000L).map(i => ("g0", i, i % 7 + 1, i % 5)) ++
      (0L until 40L).map(i => ("g1", i, i + 1, i)) ++
      Seq(("g2", 0L, 100L, 9L))
    val df = rows.toDF("grp", "ord", "v", "u")
    val got = graft.ops.PrefixSum.groupedRunningSums(df, "grp", "ord",
        Seq(($"v", "cv"), ($"u", "cu"), ($"v" * $"u", "cvu")),
        numPartitions = 8)
      .select($"grp", $"ord", $"cv", $"cu", $"cvu")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val one = graft.ops.PrefixSum.groupedRunningSum(df, "grp", "ord",
      $"v", "cv", numPartitions = 8)
    val two = graft.ops.PrefixSum.groupedRunningSum(one, "grp", "ord",
      $"u", "cu", numPartitions = 8)
    val three = graft.ops.PrefixSum.groupedRunningSum(two, "grp", "ord",
      $"v" * $"u", "cvu", numPartitions = 8)
    val expected = three.select($"grp", $"ord", $"cv", $"cu", $"cvu")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // independent oracle: a plain Scala sorted scan of the fixture (no
    // shared offset/range-partition code), so a bug common to the single-
    // and multi-column engine paths can't pass both sides unnoticed
    val indep = rows.groupBy(_._1).flatMap { case (g, rs) =>
      var (cv, cu, cvu) = (0L, 0L, 0L)
      rs.sortBy(_._2).map { case (_, ord, v, u) =>
        cv += v; cu += u; cvu += v * u
        (g, ord, cv, cu, cvu)
      }
    }.toSet
    assert(got == indep)
  }

  test("exactPercentiles == builtin percentile (ties, singleton, array ps)") {
    import org.apache.spark.sql.functions._
    // ties, negatives, a duplicate-heavy tail — the interpolation and
    // rank-bracketing edge cases
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 5.0, -7.0)
    val df = xs.toDF("x")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val outs = ps.indices.map(i => s"p$i")
    val got = graft.ops.PrefixSum.exactPercentiles(df, $"x", ps, outs)
      .collect().head
    val want = df.agg(expr(
      s"percentile(x, array(${ps.mkString("D,")}D))")).collect()
      .head.getSeq[Double](0)
    ps.indices.foreach(i => assert(got.getDouble(i) == want(i),
      s"p=${ps(i)}: got ${got.getDouble(i)}, builtin ${want(i)}"))
    // singleton input: every percentile is the value
    val one = graft.ops.PrefixSum.exactPercentiles(
      Seq(42.0).toDF("x"), $"x", Seq(0.5), Seq("m")).collect().head
    assert(one.getDouble(0) == 42.0)
    // empty input -> null, matching the aggregate
    assert(graft.ops.PrefixSum.exactPercentiles(
      Seq.empty[Double].toDF("x"), $"x", Seq(0.5), Seq("m"))
      .collect().head.isNullAt(0))
  }

  test("groupedExactPercentiles == builtin per group, null values excluded") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(2.0)), ("a", Some(9.0)),
      ("b", Some(5.0)),
      ("c", Some(-1.0)), ("c", Some(3.0)), ("c", None), ("c", Some(7.0)),
      ("d", None)).toDF("g", "x")
    val ps = Seq(0.25, 0.5, 0.99)
    val outs = Seq("q25", "q50", "q99")
    val got = graft.ops.PrefixSum.groupedExactPercentiles(
        df, "g", $"x", ps, outs)
      .collect().map(r => r.getString(0) ->
        outs.indices.map(i => r.getDouble(i + 1)).toList).toMap
    val want = df.filter($"x".isNotNull).groupBy($"g")
      .agg(expr(s"percentile(x, array(${ps.mkString("D,")}D))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toList)
      .toMap
    assert(got.keySet == Set("a", "b", "c"), "all-null group d must drop")
    got.foreach { case (g, vs) => assert(vs == want(g), s"group $g") }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS default.bkt_orders")
    spark.sql("DROP TABLE IF EXISTS default.bkt_lineitem")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("default.bkt_orders")
    l.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("default.bkt_lineitem")
    val joined = spark.table("default.bkt_lineitem")
      .join(spark.table("default.bkt_orders"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(sum($"l_quantity"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no Exchange feeding the SortMergeJoin
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected bucketing to remove join shuffles:\n$plan")
    assert(joined.count() == 5)
  }
}
