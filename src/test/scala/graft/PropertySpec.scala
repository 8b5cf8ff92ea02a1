package graft

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.schema.HiveDdl

/** Property tests (SURVEY.md §5 test plan item 6): schema round trips and
  * text-expression invariants over generated inputs. Raw ScalaCheck
  * generators sampled with fixed seeds (the scalatest bridge artifact is
  * not in the offline cache), so failures are reproducible.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.{TextFunctions => TF}

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val p = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(p, org.scalacheck.rng.Seed(i.toLong)))
  }

  private val primTypes = Seq("int", "bigint", "smallint", "tinyint", "float",
    "double", "boolean", "string", "binary", "date", "timestamp", "decimal(10,2)")

  private val identGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(12))

  test("DDL -> StructType -> DDL -> StructType is a fixpoint") {
    val gen = Gen.nonEmptyListOf(Gen.zip(identGen, Gen.oneOf(primTypes)))
    samples(gen, 30).foreach { cols0 =>
      val cols = cols0.toMap.toSeq // unique names
      if (cols.nonEmpty) {
        val ddl = cols.map { case (n, t) => s"`$n` $t" }.mkString(", ")
        val s1 = HiveDdl.parse(ddl)
        val s2 = HiveDdl.parse(s1.toDDL)
        assert(s1 == s2, s"not a fixpoint for: $ddl")
      }
    }
  }

  test("names+types padding preserves prefix types and pads string") {
    samples(Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(0, 8)), 20).foreach {
      case (nNames, nTypes0) =>
        val nTypes = math.min(nTypes0, nNames)
        val names = (0 until nNames).map(i => s"c$i")
        val types = (0 until nTypes).map(_ => "int")
        val s = HiveDdl.fromNamesAndTypes(names, types)
        assert(s.length == nNames)
        assert(s.take(nTypes).forall(_.dataType == IntegerType))
        assert(s.drop(nTypes).forall(_.dataType == StringType))
    }
  }

  test("canonicalizeUrl is idempotent over generated messy URLs") {
    import org.apache.spark.sql.functions.col
    val hostGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(10))
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTPS", "https", "HtTp")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- hostGen
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/", "/a", "/a/b/", "/a//")
      qs <- Gen.oneOf("", "?b=2&a=1", "?utm_source=x", "?a=1&utm_medium=m&z=9")
      frag <- Gen.oneOf("", "#top", "#a/b?c=1")
    } yield s"$scheme://$www$host.com$port$path$qs$frag"
    val urls = samples(urlGen, 120).distinct
    val once = TestSpark.rows(urls.toDF("u")
      .select(graft.functions.UrlFunctions.canonicalizeUrl(col("u"))))
      .flatten.map(_.toString)
    val twice = TestSpark.rows(once.toDF("u")
      .select(graft.functions.UrlFunctions.canonicalizeUrl(col("u"))))
      .flatten.map(_.toString)
    once.zip(twice).zip(urls).foreach { case ((a, b), orig) =>
      assert(a == b, s"not idempotent: $orig -> $a -> $b")
    }
    // canonical forms never retain tracking params, fragments, or a
    // scheme-default port (http:80 / https:443; cross-scheme ports stay)
    once.zip(urls).foreach { case (c, orig) =>
      assert(!c.contains("utm_") && !c.contains("#"),
        s"residual noise in canonical form: $orig -> $c")
      val lower = orig.toLowerCase
      if (lower.startsWith("https://")) assert(!c.contains(":443"), s"$orig -> $c")
      if (lower.startsWith("http://")) assert(!c.matches(".*:80(/.*|\\?.*|$)"), s"$orig -> $c")
    }
  }

  test("zValue round-trips: de-interleaving recovers both coordinates") {
    import org.apache.spark.sql.functions.col
    val pairs = samples(Gen.zip(Gen.chooseNum(0L, 65535L),
      Gen.chooseNum(0L, 65535L)), 150).distinct
    val zs = TestSpark.rows(pairs.toDF("x", "y")
      .select(graft.ops.ZOrder.zValue(col("x"), col("y"), 16)))
      .flatten.map(_.asInstanceOf[Long])
    pairs.zip(zs).foreach { case ((x, y), z) =>
      var rx = 0L; var ry = 0L
      (0 until 16).foreach { i =>
        rx |= ((z >> (2 * i)) & 1L) << i
        ry |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(rx == x && ry == y, s"($x,$y) -> $z -> ($rx,$ry)")
    }
    // monotone in x for fixed y (order preserved along each axis)
    val fixedY = pairs.map { case (x, _) => (x, 1234L) }.distinct.sortBy(_._1)
    val zf = TestSpark.rows(fixedY.toDF("x", "y")
      .select(graft.ops.ZOrder.zValue(col("x"), col("y"), 16)))
      .flatten.map(_.asInstanceOf[Long])
    assert(zf == zf.sorted, "z not monotone in x for fixed y")
  }

  test("overlapJoin equals brute force on random intervals, emits once") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    // lengths from sub-bin to multi-bin (bin = 100); includes touching
    // intervals (end == other's start) that must NOT match, and bin-
    // boundary-straddling pairs that must match exactly once
    def gen(idBase: Long) = (0 until 200).map { i =>
      val s = rnd.nextInt(3000).toLong
      (idBase + i, s, s + 1 + rnd.nextInt(350))
    }
    val la = gen(0); val rb = gen(10000)
    val left = la.toDF("ida", "sa", "ea")
    val right = rb.toDF("idb", "sb", "eb")
    val got = graft.ops.IntervalJoin
      .overlapJoin(left, "sa", "ea", right, "sb", "eb", binSize = 100L)
      .select(col("ida"), col("idb"))
      .as[(Long, Long)].collect().toSeq
    val exp = for {
      (ia, sa, ea) <- la; (ib, sb, eb) <- rb
      if sa < eb && sb < ea
    } yield (ia, ib)
    assert(got.size == got.toSet.size, "pair emitted more than once")
    assert(got.toSet == exp.toSet,
      s"missing=${(exp.toSet -- got.toSet).take(3)} " +
        s"spurious=${(got.toSet -- exp.toSet).take(3)}")
    assert(exp.nonEmpty)
    // the whole point: an equi-join on the bin key, never a nested loop
    val plan = graft.ops.IntervalJoin
      .overlapJoin(left, "sa", "ea", right, "sb", "eb", binSize = 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested-loop join in plan:\n$plan")
  }

  test("countMin estimates dominate true counts on random streams") {
    val agg = new graft.ops.TypedAggregators.CountMin(4, 128)
    samples(Gen.listOfN(500, Gen.oneOf((1 to 40).map(i => s"w$i"))), 10)
      .foreach { stream =>
        val sketch = stream.foldLeft(agg.zero)(agg.reduce).toIndexedSeq
        val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
        val bound = math.ceil(math.E / 128 * stream.size).toLong
        exact.foreach { case (w, c) =>
          val est = graft.ops.TypedAggregators.CountMin.estimate(
            sketch, 4, 128, w)
          assert(est >= c, s"$w: est $est < $c")
          assert(est <= c + bound, s"$w: est $est > $c + $bound")
        }
      }
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      3 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '!', '(', ')', '\t', '\'', '-'),
      1 -> Gen.oneOf('é', 'ß', '中')
    )).map(_.mkString)

  test("NormTokens equals regex formulation on arbitrary text") {
    val texts = samples(textGen, 200)
    val df = texts.toDF("text")
    import org.apache.spark.sql.functions._
    val cmp = df.select($"text",
      TF.normTokens($"text").as("native"),
      filter(split(lower(regexp_replace($"text", "[^\\p{L}\\p{N}\\s]", " ")), "\\s+", -1),
        t => length(t) > 0).as("re"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch for input '${r.getString(0)}'")
    }
  }

  test("TextProfile char/token counts equal SQL formulations on arbitrary text") {
    val texts = samples(textGen, 200)
    val df = texts.toDF("text")
    import org.apache.spark.sql.functions._
    val toks = filter(split($"text", "\\s+", -1), t => length(t) > 0)
    val p = TF.profile($"text")
    df.select($"text",
        p.getField("n_chars").as("a"), length($"text").as("b"),
        p.getField("n_toks").as("c"), size(toks).as("d"))
      .collect().foreach { r =>
        assert(r.getInt(1) == r.getInt(2), s"n_chars for '${r.getString(0)}'")
        assert(r.getInt(3) == r.getInt(4), s"n_toks for '${r.getString(0)}'")
      }
  }

  test("minhash estimate of identical texts is always 1.0") {
    val texts = samples(textGen, 60).filter(_.trim.length > 3)
    val df = texts.toDF("text")
    val est = df.select(graft.expressions.TextExpressions.matchFraction(
      graft.llm.Dedup.minhashSignature($"text", 2, 16),
      graft.llm.Dedup.minhashSignature($"text", 2, 16)).as("e"))
    assert(est.collect().forall(_.getDouble(0) == 1.0))
  }

  test("int8 quantization invariants over generated vectors") {
    // over random vectors (incl. negatives, zero vectors, tiny/huge scales):
    // codes within [-127, 127], |dequant - x| <= scale/2 (+fp slack),
    // zero vectors round-trip to exactly zero
    val vecGen = Gen.chooseNum(1, 32).flatMap(d =>
      Gen.listOfN(d, Gen.oneOf(
        Gen.chooseNum(-1.0, 1.0),
        Gen.chooseNum(-1e6, 1e6),
        Gen.const(0.0))))
    val vecs = samples(vecGen, 80).map(_.toArray) :+ Array(0.0, 0.0, 0.0)
    val df = vecs.toSeq.toDF("v")
    import graft.functions.{VectorFunctions => VF}
    val rows = df.select($"v", VF.quantizeInt8($"v").as("qv"))
      .select($"v", $"qv.scale".as("scale"), $"qv.codes".as("codes"),
        VF.dequantizeInt8($"qv").as("back"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val scale = r.getDouble(1)
      val codes = r.getSeq[Byte](2)
      val back = r.getSeq[Double](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (v.forall(_ == 0.0)) {
        assert(scale == 0.0 && back.forall(_ == 0.0))
      } else {
        v.indices.foreach { i =>
          assert(math.abs(back(i) - v(i)) <= scale * 0.5000001,
            s"elem $i: ${v(i)} -> ${back(i)} at scale $scale")
        }
      }
    }
  }

  test("symmetric-delete fuzzy join equals brute force on random edited corpora") {
    // corpus = random short strings + randomly edited copies (substitute /
    // insert / delete, 1-2 edits) — the operator's candidate blocking must
    // lose NOTHING vs the all-pairs scan, at both supported distances
    val rnd = new scala.util.Random(11)
    val alpha = "abcdef" // small alphabet: maximal accidental overlap
    def randStr() = (0 until 2 + rnd.nextInt(8))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def edit(s: String): String = {
      val op = rnd.nextInt(3)
      if (s.isEmpty) s + alpha(rnd.nextInt(alpha.length))
      else op match {
        case 0 => val i = rnd.nextInt(s.length) // substitute
          s.updated(i, alpha(rnd.nextInt(alpha.length)))
        case 1 => val i = rnd.nextInt(s.length + 1) // insert
          s.substring(0, i) + alpha(rnd.nextInt(alpha.length)) + s.substring(i)
        case _ => val i = rnd.nextInt(s.length) // delete
          s.substring(0, i) + s.substring(i + 1)
      }
    }
    val base = (0 until 40).map(i => (i.toLong, randStr()))
    val edited = base.map { case (id, s) =>
      (id + 1000L, (0 until 1 + rnd.nextInt(2)).foldLeft(s)((x, _) => edit(x)))
    }
    val df = (base ++ edited).toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val got = graft.ops.FuzzyJoin.editDistancePairs(df, "s", "id", d)
        .select($"idA", $"idB", $"dist").as[(Long, Long, Long)].collect().toSet
      val l = df.select($"id".as("idA"), $"s".as("sA"))
      val r = df.select($"id".as("idB"), $"s".as("sB"))
      val exact = l.crossJoin(r).filter($"idA" < $"idB")
        .withColumn("dist",
          org.apache.spark.sql.functions.levenshtein($"sA", $"sB").cast("long"))
        .filter($"dist" <= d)
        .select($"idA", $"idB", $"dist").as[(Long, Long, Long)].collect().toSet
      assert(got == exact, s"d=$d: fuzzy ${got.size} vs exact ${exact.size}")
    }
  }

  test("NFC normalization is idempotent and composes decomposed sequences") {
    val uniGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.const('e'), Gen.const('́'),
      Gen.const('A'), Gen.const('̊'), // A + ring -> Å
      Gen.const(' '), Gen.const('Å'))).map(_.mkString)
    val texts = samples(uniGen, 80)
    val df = texts.toDF("text")
    val rows = df.select(TF.nfcNormalize($"text").as("once"))
      .select($"once", TF.nfcNormalize($"once").as("twice"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), "not idempotent"))
    // every output is in NFC; every input normalizes like the JDK reference
    texts.zip(rows.map(_.getString(0))).foreach { case (in, out) =>
      assert(out == java.text.Normalizer.normalize(in,
        java.text.Normalizer.Form.NFC))
    }
  }

  test("MisraGries guarantee holds on random multisets across random partitionings") {
    val rnd = new scala.util.Random(23)
    (0 until 5).foreach { trial =>
      val k = 2 + rnd.nextInt(6)
      // zipf-ish random multiset over a small vocab
      val rows = (0 until 200 + rnd.nextInt(800)).map { _ =>
        s"t${(math.pow(rnd.nextDouble(), 3) * 20).toInt}"
      }
      val sketch = rows.toDS().repartition(1 + rnd.nextInt(8))
        .select(graft.ops.TypedAggregators.misraGries(k)).head()
      val n = rows.size
      val exact = rows.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val guaranteed = exact.filter(_._2 * (k + 1) > n).keySet
      assert(guaranteed.subsetOf(sketch.keySet),
        s"trial $trial k=$k: $guaranteed not all in ${sketch.keySet}")
      sketch.foreach { case (t, c) =>
        assert(math.abs(c - exact.getOrElse(t, 0L)) <= n / (k + 1))
      }
    }
  }

  test("groupedExactPercentiles equals builtin percentile on random " +
    "grouped multisets (ties, skew, singletons, boundary ps)") {
    // randomized parity for the round-8 pick-path rework: heavy ties
    // (values drawn from a tiny grid), skewed group sizes (1..~400),
    // boundary percentiles 0.0/1.0, and fractional positions — compared
    // BIT-identically (java.lang.Double.compare, no tolerance) against
    // the builtin aggregate on the same data, across several shuffle
    // partition counts so range-partition boundaries land mid-tie-run.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val outs = ps.indices.map(i => s"p$i")
    (0 until 4).foreach { round =>
      val rows = (0 until 20).flatMap { g =>
        val n = 1 + rnd.nextInt(if (g % 5 == 0) 3 else 400)
        // ~8-value grid => massive tie runs inside and across partitions
        (0 until n).map(_ => (s"g$g", (rnd.nextInt(8) * 25).toDouble / 7.0))
      }
      val df = spark.createDataFrame(rows).toDF("g", "x")
        .repartition(7) // unaligned input partitioning
      val parts = Seq(2, 5, 32)(round % 3)
      val got = graft.ops.PrefixSum
        .groupedExactPercentiles(df, "g", col("x"), ps, outs, parts)
        .collect().map(r => r.getString(0) ->
          outs.indices.map(i => r.getDouble(i + 1))).toMap
      val exp = df.groupBy(col("g"))
        .agg(expr(s"percentile(x, array(${ps.mkString("D,")}D))").as("a"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[Double](1).toIndexedSeq).toMap
      assert(got.keySet == exp.keySet, s"group sets differ (round $round)")
      got.foreach { case (g, vs) =>
        vs.indices.foreach { i =>
          assert(java.lang.Double.compare(vs(i), exp(g)(i)) == 0,
            s"round $round group $g p=${ps(i)}: got ${vs(i)} " +
              s"expected ${exp(g)(i)} (parts=$parts)")
        }
      }
    }
  }

  test("exactPercentiles equals builtin on random multisets with " +
    "partition-boundary tie runs") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { round =>
      val n = 1 + rnd.nextInt(3000)
      val vals = (0 until n).map(_ => (rnd.nextInt(5) * 13).toDouble / 3.0)
      val df = vals.toDF("x").repartition(5)
      val ps = Seq(0.0, 0.37, 0.5, 0.999, 1.0)
      val outs = ps.indices.map(i => s"p$i")
      val got = graft.ops.PrefixSum.exactPercentiles(df, col("x"), ps, outs)
        .head()
      val exp = df.agg(expr(
        s"percentile(x, array(${ps.mkString("D,")}D))")).head().getSeq[Double](0)
      ps.indices.foreach { i =>
        assert(java.lang.Double.compare(got.getDouble(i), exp(i)) == 0,
          s"round $round n=$n p=${ps(i)}: got ${got.getDouble(i)} " +
            s"expected ${exp(i)}")
      }
    }
  }

  test("pigeonhole chunking: any two longs within hamming<=3 share a 16-bit chunk") {
    // the bit-level invariant simhashPairs' recall-1 guarantee rests on,
    // checked directly over generated (value, <=3 random bit flips) pairs
    val rnd = new scala.util.Random(7)
    def chunks(v: Long): Seq[Long] =
      (0 until 4).map(b => (v >>> (b * 16)) & 0xFFFFL)
    (0 until 2000).foreach { _ =>
      val v = rnd.nextLong()
      val flips = rnd.nextInt(4) // 0..3 bit flips
      val positions = Seq.fill(flips)(rnd.nextInt(64))
      val w = positions.foldLeft(v)((acc, p) => acc ^ (1L << p))
      assert(java.lang.Long.bitCount(v ^ w) <= 3)
      assert(chunks(v).zip(chunks(w)).exists { case (a, b) => a == b },
        s"no shared chunk for $v vs $w (flips at $positions)")
    }
  }
}
