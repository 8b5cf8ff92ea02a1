package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{TextExpressions, VectorExpressions}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Native expressions vs their declarative/regex formulations — the parity
  * that keeps the DuckDB oracles honest.
  */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 2.0f), Array(2.0f, 1.0f, 0.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
    (3L, Array(1.5f, -2.0f, 0.5f), Array(1.5f, -2.0f, 0.5f))
  ).toDF("id", "a", "b")

  test("dot product matches manual computation") {
    val got = TestSpark.rows(vecs.orderBy("id").select(VectorExpressions.dot($"a", $"b")))
      .flatten.map(_.asInstanceOf[Double])
    assert(got == Seq(2.0, 0.0, 1.5 * 1.5 + 4.0 + 0.25))
  }

  test("cosine: zero-norm guard and self-similarity") {
    val got = TestSpark.rows(vecs.orderBy("id").select(VectorExpressions.cosine($"a", $"b")))
      .flatten.map(_.asInstanceOf[Double])
    assert(got(1) == 0.0)
    assert(math.abs(got(2) - 1.0) < 1e-12)
  }

  test("cosine matches the HOF double-arithmetic formulation") {
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v) /
      (sqrt(aggregate($"a", lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))) *
        sqrt(aggregate($"b", lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))))
    val df = vecs.filter($"id" =!= 2L)
      .select(VectorExpressions.cosine($"a", $"b").as("native"), hof.as("hof"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("NormTokens matches the regex formulation incl. unicode and edge cases") {
    val texts = Seq("Hello, World!  multi  space", "", "  ", "C'est déjà l'été 42",
      "tabs\tand\nnewlines", "123 #$% abc", "ALLCAPS MiXeD")
    val df = texts.toDF("text")
    val regexVersion = filter(
      split(lower(regexp_replace($"text", "[^\\p{L}\\p{N}\\s]", " ")), "\\s+", -1),
      t => length(t) > 0)
    val cmp = df.select(TF.normTokens($"text").as("native"), regexVersion.as("re"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"mismatch for ${r}")
    }
  }

  test("TextProfile fields match the SQL-function formulations") {
    val texts = Seq("The quick brown fox... jumped!", "", "a  b", "Der Hund und die Katze",
      "el que de la  ", "no-punct words here the and of")
    val df = texts.toDF("text")
    val toks = filter(split($"text", "\\s+", -1), t => length(t) > 0)
    val p = TF.profile($"text")
    val cmp = df.select(
      p.getField("n_chars").as("nc"), length($"text").as("nc2"),
      p.getField("n_punct").as("np"),
      length(regexp_replace($"text", "[^!-/:-@\\[-`{-~]", "")).as("np2"),
      p.getField("n_toks").as("nt"), size(toks).as("nt2"),
      p.getField("sum_tok_len").as("sl"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sl2"))
    cmp.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(1), "n_chars")
      assert(r.getInt(2) == r.getInt(3), "n_punct")
      assert(r.getInt(4) == r.getInt(5), "n_toks")
      assert(r.getLong(6) == r.getLong(7), "sum_tok_len")
    }
  }

  test("stopword hits match isin-filter counts") {
    val df = Seq("the cat and the hat", "no stops here").toDF("text")
    val viaProfile = df.select(
      element_at(TF.profile($"text").getField("set_hits"), 1).as("hits"))
    val viaFilter = df.select(
      size(filter(TF.normTokens($"text"), t => t.isin(TF.StopwordsEn: _*))).as("hits"))
    assert(TestSpark.rows(viaProfile) == TestSpark.rows(viaFilter))
  }

  test("NgramHashes: count and determinism, no gram strings") {
    val df = Seq("a b c d e", "a b", "x").toDF("text")
    val counts = TestSpark.rows(
      df.select(size(TextExpressions.ngramHashes(TF.normTokens($"text"), 3))))
      .flatten
    assert(counts == Seq(3, 0, 0))
    // equal token windows hash equal across rows
    val h = TestSpark.rows(Seq("p q r", "p q r s").toDF("t")
      .select(TextExpressions.ngramHashes(TF.normTokens($"t"), 3)))
      .flatten.map(_.asInstanceOf[scala.collection.Seq[Long]])
    assert(h(0).head == h(1).head)
  }

  test("MinHash signature: length, determinism, dup-detection property") {
    val df = Seq(
      ("same text about spark engines and data", "same text about spark engines and data"),
      ("same text about spark engines and data", "completely different words entirely unrelated topic")
    ).toDF("x", "y")
    val sim = df.select(TextExpressions.matchFraction(
      graft.llm.Dedup.minhashSignature($"x", 2, 32),
      graft.llm.Dedup.minhashSignature($"y", 2, 32)).as("est"))
    val got = TestSpark.rows(sim).flatten.map(_.asInstanceOf[Double])
    assert(got(0) == 1.0)           // identical docs -> identical signatures
    assert(got(1) < 0.3)            // unrelated docs -> low estimate
  }

  test("SimHash: identical texts equal, near texts close, far texts far") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy dog"),
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy cat"),
      ("the quick brown fox jumps over the lazy dog", "entirely unrelated sentence with other words")
    ).toDF("x", "y")
    val ham = df.select(bit_count(
      graft.llm.Dedup.simhash($"x").bitwiseXOR(graft.llm.Dedup.simhash($"y"))).as("h"))
    val got = TestSpark.rows(ham).flatten.map(_.asInstanceOf[Int])
    assert(got(0) == 0)
    assert(got(1) < got(2), s"near ${got(1)} should be < far ${got(2)}")
  }

  test("hyperplane signature is deterministic and fits requested bits") {
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
    val s1 = TestSpark.rows(df.select(VF.hyperplaneSignature($"v", 12))).flatten.head
    val s2 = TestSpark.rows(df.select(VF.hyperplaneSignature($"v", 12))).flatten.head
    assert(s1 == s2)
    assert(s1.asInstanceOf[Long] >= 0L && s1.asInstanceOf[Long] < (1L << 12))
  }

  test("dupNgramFrac: repetition fraction, short-doc and all-same edges") {
    val df = Seq(
      "a b c a b c a b c",  // 7 3-grams: abc bca cab abc bca cab abc -> 3 distinct
      "a b c d e",          // 3 grams, all distinct -> 0.0
      "x y",                // < 3 tokens -> 0.0 (no grams)
      "w w w w w"           // 3 grams all identical -> 1 - 1/3
    ).map(Tuple1(_)).toDF("text")
    val got = TestSpark.rows(df.select(TF.dupNgramFrac($"text", 3))).flatten
      .map(_.asInstanceOf[Double])
    assert(got(0) == 1.0 - 3.0 / 7.0)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0)
    assert(got(3) == 1.0 - 1.0 / 3.0)
  }

  test("redactPii/piiCount: emails and phones replaced, plain text untouched") {
    val df = Seq(
      "write bob.smith+x@mail.example.org today",
      "call +1-555-0100 or +44-20-7946-0958 now",
      "no pii here, just words at 12 o'clock",
      "mail a+12345678@b.com maybe" // phone-like run INSIDE the email
    ).map(Tuple1(_)).toDF("text")
    val got = TestSpark.rows(df.select(
      TF.redactPii($"text"), TF.piiCount($"text")))
    assert(got(0) == Seq("write [PII] today", 1L))
    assert(got(1) == Seq("call [PII] or [PII] now", 2L))
    assert(got(2) == Seq("no pii here, just words at 12 o'clock", 0L))
    // the email replacement consumes the digit run: ONE replacement, count 1
    assert(got(3) == Seq("mail [PII] maybe", 1L))
  }

  test("RandomProjection: deterministic, linear, preserves planted closeness") {
    val base = Array.tabulate(64)(i => math.sin(i * 1.7) * (1 + i % 5))
    val near = base.map(_ * 1.0001)
    val far  = Array.tabulate(64)(i => math.cos(i * 2.3) * (1 + i % 7))
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "v")
      .select($"id", VF.randomProjection($"v", 16, seed = 7).as("p"),
        VF.randomProjection($"v", 16, seed = 7).as("p2"),
        VF.randomProjection($"v", 16, seed = 8).as("q"))
    val rows = df.orderBy("id").collect()
    val p = rows.map(_.getSeq[Double](1).toArray)
    val p2 = rows.map(_.getSeq[Double](2).toArray)
    val q = rows.map(_.getSeq[Double](3).toArray)
    assert(p.forall(_.length == 16))
    assert(p(0).toSeq == p2(0).toSeq, "same seed must reproduce exactly")
    assert(p(0).toSeq != q(0).toSeq, "different seed must differ")
    // linearity: proj(1.0001 * v) == 1.0001 * proj(v) exactly in structure
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(cos(p(0), p(1)) > 0.99999, "near-identical vectors must stay near")
    assert(math.abs(cos(p(0), p(2))) < 0.9, "distant vectors must not collapse")
  }

  test("NfcNormalize + normalizeText: composition, casefold, whitespace") {
    val df = Seq(
      "Cafe\u0301",     // decomposed e + combining acute -> composed \u00E9
      "\u212B",         // ANGSTROM SIGN -> \u00C5 -> lowercased \u00E5
      "caf\u00E9",      // already NFC: unchanged (fast path)
      "  A\tB\n\nC  "   // whitespace collapse + trim
    ).map(Tuple1(_)).toDF("text")
    val nfc = TestSpark.rows(df.select(TF.nfcNormalize($"text"))).flatten
    assert(nfc(0) == "Caf\u00E9") // composed; case untouched by NFC
    assert(nfc(1) == "\u00C5")
    assert(nfc(2) == "caf\u00E9")
    val norm = TestSpark.rows(df.select(TF.normalizeText($"text"))).flatten
    assert(norm(0) == "caf\u00E9")
    assert(norm(1) == "\u00E5")
    assert(norm(2) == "caf\u00E9")
    assert(norm(3) == "a b c")
  }

  test("CharEntropy: known distributions, code-point counting, empty text") {
    val df = Seq(
      "aaaa",          // single symbol -> 0
      "abab",          // uniform over 2 -> ln 2
      "aabb\uD83D\uDE00\uD83D\uDE00", // surrogate pair counts ONCE: 3 symbols uniform
      ""               // empty -> 0
    ).map(Tuple1(_)).toDF("text")
    val got = TestSpark.rows(df.select(TF.charEntropy($"text")))
      .flatten.map(_.asInstanceOf[Double])
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - math.log(2)) < 1e-12)
    assert(math.abs(got(2) - math.log(3)) < 1e-12)
    assert(got(3) == 0.0)
    // SQL-registry route (A17 surface)
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT graft_char_entropy('abab')")
      .collect()(0).getDouble(0)
    assert(math.abs(viaSql - math.log(2)) < 1e-12)
  }

  test("CharEntropy participates in whole-stage codegen (no fallback)") {
    // range input: LocalTableScan plans skip whole-stage codegen entirely
    val plan = spark.range(4)
      .select(TF.charEntropy(concat(lit("ab"), $"id".cast("string"))).as("e"))
      .queryExecution.executedPlan
    val cg = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(cg.contains("CharEntropy.compute"),
      s"expected the static kernel call in generated code:\n${cg.take(800)}")
    assert(!cg.startsWith("Found 0 WholeStageCodegen"), cg.take(200))
  }

  test("NearestCentroid matches the crossJoin struct-max argmax, ties to smaller cid") {
    import graft.functions.{VectorFunctions => VF}
    val cents = Array(
      Array(1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 1.0, 0.0), // exact duplicate of cid 1: tie -> 1, never 2
      Array(0.5, 0.5, 0.0))
    val rows = (0 until 200).map { i =>
      (i.toLong, Array(math.sin(i * 0.7), math.cos(i * 1.3), (i % 7) / 7.0))
    }
    val df = rows.toDF("id", "v")
    val got = df.select($"id", VF.nearestCentroid(VF.l2Normalize($"v"), cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    // independent reference: driver-side argmax with the same tie-break
    val want = rows.map { case (id, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val nv = v.map(_ / nrm)
      val dots = cents.map(c => c.zip(nv).map { case (a, b) => a * b }.sum)
      id -> dots.indices.maxBy(i => (dots(i), -i))
    }.toMap
    assert(got == want)
    // planted tie: a vector equal to the duplicated centroid direction
    val tie = Seq((99L, Array(0.0, 5.0, 0.0))).toDF("id", "v")
      .select(VF.nearestCentroid(VF.l2Normalize($"v"), cents).as("cell"))
      .as[Int].head()
    assert(tie == 1, s"tie must resolve to the smaller cid, got $tie")
    // empty matrix -> -1, null vector -> null
    val e = Seq((1L, Array(1.0))).toDF("id", "v")
      .select(VF.nearestCentroid($"v", Array.empty[Array[Double]]).as("c"))
      .as[Int].head()
    assert(e == -1)
  }

  test("NearestCentroid participates in whole-stage codegen (no fallback)") {
    import graft.functions.{VectorFunctions => VF}
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val plan = spark.range(8)
      .select(VF.nearestCentroid(
        array($"id".cast("double"), lit(1.0)), cents).as("c"))
      .queryExecution.executedPlan
    val cg = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(cg.contains("NearestCentroid.compute"),
      s"expected the static kernel call in generated code:\n${cg.take(800)}")
    assert(!cg.startsWith("Found 0 WholeStageCodegen"), cg.take(200))
  }

  test("JaroWinkler matches the independent DuckDB implementation on probe pairs") {
    // expectations computed with DuckDB jaro_winkler_similarity — the
    // external implementation the oracle uses; any drift in window /
    // transposition / boost-threshold semantics fails here first
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),  // transposition + prefix
      ("DIXON", "DICKSONX", 0.8133333333333332), // prefix 2 bonus
      ("ABCDEFG", "ABCXXXX", 0.6190476190476191), // jaro <= 0.7: NO bonus
      ("aaapppp", "ap", 0.7857142857142857),      // window clipping
      ("AB", "CD", 0.0), ("A", "A", 1.0), ("", "ABC", 0.0), ("", "", 1.0))
    for ((a, b, want) <- cases) {
      val got = graft.expressions.JaroWinkler.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(math.abs(got - want) < 1e-12, s"jw($a, $b) = $got, want $want")
      // symmetric
      val rev = graft.expressions.JaroWinkler.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(b),
        org.apache.spark.unsafe.types.UTF8String.fromString(a))
      assert(math.abs(rev - got) < 1e-12, s"jw not symmetric on ($a, $b)")
    }
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT graft_jaro_winkler('MARTHA', 'MARHTA')")
      .collect()(0).getDouble(0)
    assert(math.abs(viaSql - 0.9611111111111111) < 1e-12)
  }

  test("JaroWinkler participates in whole-stage codegen (no fallback)") {
    val plan = spark.range(4)
      .select(graft.expressions.TextExpressions.jaroWinkler(
        concat(lit("ab"), $"id".cast("string")), lit("abc")).as("jw"))
      .queryExecution.executedPlan
    val cg = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(cg.contains("JaroWinkler.compute"),
      s"expected the static kernel call in generated code:\n${cg.take(800)}")
    assert(!cg.startsWith("Found 0 WholeStageCodegen"), cg.take(200))
  }

  test("CappedIdList: sorted non-null ids, at most cap + 1 of them across partitions") {
    val ids = Seq((1, Some(5L)), (1, None), (1, Some(-3L)), (3, None),
        (2, Some(9L)), (2, Some(1L)), (2, Some(4L)), (2, Some(7L)), (2, Some(2L)))
      .toDF("k", "id").repartition(3)
    val got = ids.groupBy($"k")
      .agg(TextExpressions.cappedIdList($"id", 3).as("l"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(got(1) == Seq(-3L, 5L))
    assert(got(3).isEmpty)
    assert(got(2).length == 4 && got(2) == got(2).sorted &&
      got(2).toSet.subsetOf(Set(9L, 1L, 4L, 7L, 2L)), got(2))
    val uncapped = ids.groupBy($"k")
      .agg(TextExpressions.cappedIdList($"id", Int.MaxValue).as("l"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(uncapped(2) == Seq(1L, 2L, 4L, 7L, 9L))
  }
}
