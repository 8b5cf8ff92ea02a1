package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Bpe

/** BPE merge learning + encoding: distributed/local parity on the classic
  * Sennrich vocabulary, deterministic tie-breaks, greedy encode.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the classic fixture: {low:5, lower:2, newest:6, widest:3}
  private def classicCorpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
    Seq.fill(6)("newest") ++ Seq.fill(3)("widest")

  // collectThreshold = 0 forces the distributed loop: these tests are the
  // distributed-path witnesses (the adaptive default would short-circuit
  // every fixture-sized vocab to the local loop and prove nothing)
  private lazy val classicMerges = {
    val vocab = Bpe.wordFreq(classicCorpus.toDF("text"), "text")
    Bpe.learnMerges(vocab, numMerges = 6, collectThreshold = 0)
  }

  test("learnMerges: classic example, known merges, deterministic ties") {
    val m = classicMerges
    // (e,s), (es,t), (est,</w>) all at freq 9 — lexicographic tie-break
    // orders them; then (l,o) and (lo,w) at 7
    assert(m.take(5).map(x => (x.left, x.right, x.freq)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", Bpe.EndOfWord, 9L),
      ("l", "o", 7L), ("lo", "w", 7L)))
    // merge freqs never increase
    assert(m.map(_.freq).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("learnMerges equals the single-JVM reference on the classic vocab") {
    val vocabLocal = classicCorpus.groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.length.toLong) }
    val local = Bpe.learnMergesLocal(vocabLocal, numMerges = 6)
    assert(classicMerges == local)
  }

  test("adaptive bounded-collect path: identical merges, no per-round jobs") {
    val vocab = Bpe.wordFreq(classicCorpus.toDF("text"), "text")
    val jc = new org.apache.spark.graft.JobCounter(spark.sparkContext)
    try {
      val before = jc.count()
      // default threshold: 4 distinct words -> one probe count + one collect
      val adaptive = Bpe.learnMerges(vocab, numMerges = 6)
      val adaptiveJobs = jc.count() - before
      assert(adaptive == classicMerges)
      // a threshold below the vocab size must route distributed again
      val mid = jc.count()
      val forced = Bpe.learnMerges(vocab, numMerges = 6, collectThreshold = 2)
      val forcedJobs = jc.count() - mid
      assert(forced == classicMerges)
      // job counts are AQE-stage-granular, so pin the SHAPE, not absolute
      // counts: the short-circuit's job count is flat in numMerges while
      // the per-round loop pays jobs per merge
      assert(adaptiveJobs * 2 < forcedJobs,
        s"expected the per-round loop to dwarf the short-circuit, " +
          s"got $forcedJobs vs $adaptiveJobs jobs")
    } finally jc.close()
  }

  test("encode applies merges greedily in rank order") {
    val df = Seq("lowest", "low newest", "").toDF("text")
    val got = Bpe.encode(df, "text", classicMerges.take(5), "toks")
      .select($"text", $"toks").as[(String, Seq[String])].collect().toMap
    // lowest: l o w e s t</w> -> es -> est -> est</w> -> lo -> low
    assert(got("lowest") == Seq("low", "est" + Bpe.EndOfWord))
    assert(got("low newest") ==
      Seq("low", Bpe.EndOfWord, "n", "e", "w", "est" + Bpe.EndOfWord))
    assert(got("") == Seq.empty)
  }

  test("encode with zero merges yields chars + end-of-word markers") {
    val got = Bpe.encode(Seq("ab c").toDF("text"), "text", Seq.empty, "toks")
      .select($"toks").as[Seq[String]].head()
    assert(got == Seq("a", "b", Bpe.EndOfWord, "c", Bpe.EndOfWord))
  }

  test("words that merge down to a single symbol stop contributing pairs") {
    // "a" collapses to one symbol ("a</w>") after the first merge —
    // the pair scan must then skip it, not crash or wrap around
    val corpus = Seq.fill(10)("a") ++ Seq.fill(3)("ab")
    val vocab = Bpe.wordFreq(corpus.toDF("text"), "text")
    val dist = Bpe.learnMerges(vocab, numMerges = 5, collectThreshold = 0)
    val local = Bpe.learnMergesLocal(
      corpus.groupBy(identity).toSeq.map { case (w, ws) =>
        (w, ws.length.toLong) }, numMerges = 5)
    assert(dist == local)
    assert(dist.head == Bpe.Merge(1, "a", Bpe.EndOfWord, 10L))
  }

  test("regex metacharacters in words survive learning and encoding") {
    val corpus = Seq.fill(4)("a$b") ++ Seq.fill(4)("a$c") ++ Seq.fill(3)("x.y")
    val vocab = Bpe.wordFreq(corpus.toDF("text"), "text")
    val dist = Bpe.learnMerges(vocab, numMerges = 3, collectThreshold = 0)
    val local = Bpe.learnMergesLocal(
      corpus.groupBy(identity).toSeq.map { case (w, ws) =>
        (w, ws.length.toLong) }, numMerges = 3)
    assert(dist == local)
    // (a,$) at 8 dominates; the merged "a$" token must match literally
    assert(dist.head.left == "a" && dist.head.right == "$")
    val enc = Bpe.encode(Seq("a$b x.y").toDF("text"), "text", dist, "toks")
      .select($"toks").as[Seq[String]].head()
    assert(enc.head.startsWith("a$"))
  }
}
