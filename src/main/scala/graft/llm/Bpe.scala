package graft.llm

import graft.Materialize.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning over a corpus — tokenizer induction
  * as an engine operator.
  *
  * The scale shape is what makes BPE trainable on 100 TB: the corpus
  * FIRST collapses to a (word, freq) vocabulary table (one shuffle of
  * word tokens, partial-aggregated), and every subsequent round runs on
  * that vocabulary — millions of rows, not terabytes. Each round is one
  * pair-frequency aggregate (map-side combined) plus one narrow regexp
  * rewrite of the symbol strings; the single argmax row collected per
  * round IS the learned artifact (a merge table is sequential by
  * definition), not a data collect.
  *
  * Symbols are held as a space-joined string padded with sentinel spaces
  * (" l o w </w> "); merging (a, b) rewrites " a b" followed by a space
  * into " ab" — Java regex scans left-to-right non-overlapping, which is
  * exactly BPE's greedy merge order within a word. Ties on pair
  * frequency break lexicographically on (left, right), so the learned
  * table is deterministic on any engine or layout.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** (word, freq) vocabulary of `textCol`, whitespace-tokenized. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** One learned merge: rank (1-based), the two merged symbols, and the
    * pair frequency at merge time.
    */
  final case class Merge(rank: Int, left: String, right: String,
                         freq: Long) {
    def token: String = left + right
  }

  /** Regex-PATTERN quoting (literal match). */
  private def qp(s: String): String =
    "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"

  /** Regex-REPLACEMENT quoting (backslash and dollar are special there —
    * different rules than in patterns).
    */
  private def qr(s: String): String =
    s.replace("\\", "\\\\").replace("$", "\\$")

  /** " c h a r s </w> " — sentinel-padded, space-joined symbol string for
    * a whitespace-free word.
    */
  private def symbolize(word: org.apache.spark.sql.Column) =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "), lit(EndOfWord),
      lit(" "))

  /** The " a b " -> " ab " greedy rewrite for one merge. */
  private def applyMerge(c: org.apache.spark.sql.Column, a: String,
                         b: String) =
    regexp_replace(c, " " + qp(a) + " " + qp(b) + "(?= )", " " + qr(a + b))

  /** Vocabularies at or under this row count are collected once and the
    * merge loop runs single-JVM (see [[learnMerges]]). 64k (word, freq)
    * rows is a few MB of driver memory — the same bounded-collect class
    * as BM25's all-common-batch short-circuit.
    */
  val CollectThreshold: Long = 65536L

  /** Learn up to `numMerges` BPE merges from a [[wordFreq]] vocabulary.
    *
    * ADAPTIVE: a merge table is a sequential driver-side artifact either
    * way (one argmax row per round), so when the vocabulary is small the
    * per-round Spark job is pure scheduling overhead. If the vocab has at
    * most `collectThreshold` rows it is collected ONCE (CONTRACT-bounded:
    * `collectThreshold` rows of short words + 8-byte counts) and the loop
    * runs via [[learnMergesLocal]] — the identical algorithm (same
    * argmax, tie-break, greedy left-to-right rewrite; BpeSpec pins
    * equality, q126 self-checks it on the live corpus). Above the
    * threshold — the 100 TB regime, where distinct words run to the
    * hundreds of millions — each round runs distributed: one
    * pair-frequency aggregate over the vocab (map-side combined) plus one
    * narrow symbol rewrite; stops early when no pair reaches `minFreq`.
    * `collectThreshold = 0` forces the distributed path (parity
    * witnesses: q126, BpeSpec).
    */
  def learnMerges(vocab: DataFrame, numMerges: Int,
                  minFreq: Long = 2,
                  collectThreshold: Long = CollectThreshold): Seq[Merge] = {
    require(numMerges >= 1 && minFreq >= 1)
    // thresholds beyond the probe's Int limit clamp DOWN (a saturated
    // probe could otherwise under-count a multi-billion-row vocab and
    // trigger an unbounded collect)
    val th = math.min(collectThreshold, Int.MaxValue - 1L)
    if (th > 0) {
      // ONE bounded job: collect at most th+1 typed rows. The bound holds
      // by construction — a count-then-collect pair would be two jobs AND
      // a TOCTOU on a non-deterministic/non-persisted vocab (the row count
      // can differ between the jobs, unbounding the second). th+1 rows
      // distinguishes "fits" from "over threshold" from the same result.
      // Casts keep this path as type-tolerant as the distributed one
      // (an IntegerType freq would otherwise throw on getLong).
      val probe = vocab
        .select(col("word").cast("string"), col("freq").cast("long"))
        .limit(th.toInt + 1).collect()
      if (probe.length <= th) {
        return learnMergesLocal(
          probe.toSeq.map(r => (r.getString(0), r.getLong(1))),
          numMerges, minFreq)
      }
    }
    // each round's rewrite is materialized as a raw-row checkpoint, which
    // also truncates the applyMerge plan chain so analysis stays flat at
    // any merge count (persist kept the logical chain growing and its
    // columnar cache measured as pure CPU overhead at vocab size — r9)
    var syms = vocab.select(symbolize(col("word")).as("s"), col("freq"))
      .materializeEager
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = syms
        .select(split(trim(col("s")), " ").as("t"), col("freq"))
        // a fully-merged word (one symbol left) has no pairs — and
        // sequence(0, -1) would run DESCENDING under ANSI, not empty
        .filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("t")) - lit(2)),
          i => struct(element_at(col("t"), i + 1).as("a"),
            element_at(col("t"), i + 2).as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("f"))
        .orderBy(desc("f"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minFreq) done = true
      else {
        val (a, b, f) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += Merge(merges.length + 1, a, b, f)
        syms = syms.withColumn("s", applyMerge(col("s"), a, b))
          .materializeEager
      }
    }
    merges.toSeq
  }

  /** Single-JVM reference over a collected vocabulary — the oracle side
    * of [[learnMerges]] (identical argmax, tie-break, and greedy
    * left-to-right merge) for self-check queries and specs.
    */
  def learnMergesLocal(vocab: Seq[(String, Long)], numMerges: Int,
                       minFreq: Long = 2): Seq[Merge] = {
    // code-point iteration — "(.)" in the distributed path matches code
    // points, not UTF-16 units
    def chars(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    var words = vocab.map { case (w, f) => (chars(w) :+ EndOfWord, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (merges.length < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ss, f) <- words; i <- 0 until ss.length - 1) {
        val k = (ss(i), ss(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      // tie-break in Spark's string order (unsigned UTF-8 bytes), not
      // Java's UTF-16 code-unit order — the two disagree on
      // supplementary-plane characters, and this loop must pick the SAME
      // merge as the distributed orderBy(asc) (the adaptive short-circuit
      // and q126's parity check both depend on it)
      implicit val utf8Order: Ordering[String] = (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      counts.toSeq.sortBy { case ((a, b), f) => (-f, a, b) }.headOption match {
        case Some(((a, b), f)) if f >= minFreq =>
          merges += Merge(merges.length + 1, a, b, f)
          words = words.map { case (ss, fr) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < ss.length) {
              if (i < ss.length - 1 && ss(i) == a && ss(i + 1) == b) {
                out += a + b; i += 2
              } else { out += ss(i); i += 1 }
            }
            (out.result(), fr)
          }
        case _ => done = true
      }
    }
    merges.toSeq
  }

  /** Single-JVM reference encode — the oracle side of [[encode]]. */
  def encodeLocal(text: String, merges: Seq[Merge]): Seq[String] = {
    val norm = text.trim.replaceAll("\\s+", " ")
    if (norm.isEmpty) return Seq.empty
    def chars(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    norm.split(" ").toSeq.flatMap { w =>
      var ss: Vector[String] = chars(w) :+ EndOfWord
      for (m <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ss.length) {
          if (i < ss.length - 1 && ss(i) == m.left && ss(i + 1) == m.right) {
            out += m.token; i += 2
          } else { out += ss(i); i += 1 }
        }
        ss = out.result()
      }
      ss
    }
  }

  /** Encode text into subword tokens with a learned merge table: per
    * word, chars + end-of-word marker, then the merges in rank order
    * (greedy left-to-right each) — standard BPE encode. The merge table
    * is a tiny plan-side constant (one regexp_replace per merge), so
    * encoding is a narrow per-row expression chain: zero shuffles,
    * codegen-friendly, linear in text size.
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[Merge],
             outCol: String): DataFrame = {
    // "ab cd" --(.)-> "a b   c d " (word gap becomes 3 spaces) -> mark
    // gaps + the tail with EndOfWord, pad with sentinel spaces
    val spaced = regexp_replace(
      regexp_replace(trim(col(textCol)), "\\s+", " "), "(.)", "$1 ")
    val base = concat(lit(" "),
      regexp_replace(spaced, "   ", " " + EndOfWord + " "),
      lit(EndOfWord), lit(" "))
    val merged = merges.foldLeft(base)((c, m) => applyMerge(c, m.left, m.right))
    df.withColumn(outCol,
      when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
        .otherwise(split(trim(merged), " ")))
  }
}
