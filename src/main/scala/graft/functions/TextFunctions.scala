package graft.functions

import graft.Materialize.Ops
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, quality metrics, language-ID heuristics, and
  * document fingerprints. All are pure `org.apache.spark.sql.functions`
  * compositions — codegen'd, no UDFs — so they stay inside whole-stage
  * codegen and scale linearly with input.
  *
  * Builds on the reference's regex-split machinery (SURVEY.md §2 B8,
  * RegexSplitGenerator) — tokenization here is the same split, minus empty
  * tokens, plus lowercasing.
  */
object TextFunctions {

  /** Whitespace tokenizer; empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+", -1), t => length(t) > 0)

  /** Lowercased tokens with punctuation stripped — normalization for dedup.
    * Native single-pass expression; semantics identical to
    * filter(split(lower(regexp_replace(text,"[^\\p{L}\\p{N}\\s]"," ")),"\\s+"), len>0).
    */
  def normTokens(text: Column): Column =
    graft.expressions.TextProfileExpressions.normTokens(text)

  /** All word-sets the profile counts hits for: StopwordsEn first, then the
    * language marker sets in LangMarkers order. One shared definition keeps
    * every profile(text) call an identical expression tree, so Spark's
    * subexpression elimination evaluates it once per row per projection.
    */
  private lazy val ProfileSets: Seq[Seq[String]] =
    StopwordsEn +: LangMarkers.map(_._2)

  /** One-pass document statistics struct (see TextProfile expression). */
  def profile(text: Column): Column =
    graft.expressions.TextProfileExpressions.textProfile(text, ProfileSets)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = profile(text).getField("n_toks")

  // --- quality scoring -----------------------------------------------------

  val StopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "that", "this", "it", "as", "at", "by", "be")

  /** ASCII punctuation char-class, spelled so Java regex (Spark) and RE2
    * (DuckDB oracle) agree exactly — `\p{Punct}` is Java-only.
    */
  val PunctClass = "[!-/:-@\\[-`{-~]"

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column = {
    val p = profile(text)
    when(p.getField("n_chars") === 0, 0.0)
      .otherwise(p.getField("n_punct").cast("double") /
        p.getField("n_chars").cast("double"))
  }

  /** Fraction of tokens that are English stopwords — high values indicate
    * natural running text, near-zero indicates tables/code/noise.
    */
  def stopwordRatio(text: Column): Column = {
    val p = profile(text)
    when(p.getField("n_ntoks") === 0, 0.0).otherwise(
      element_at(p.getField("set_hits"), 1).cast("double") /
        p.getField("n_ntoks").cast("double"))
  }

  /** Mean token length (a cheap gibberish detector). */
  def meanTokenLen(text: Column): Column = {
    val p = profile(text)
    when(p.getField("n_toks") === 0, 0.0).otherwise(
      p.getField("sum_tok_len").cast("double") /
        p.getField("n_toks").cast("double"))
  }

  /** Composite quality score in [0,1]: rewards stopword presence, penalizes
    * punctuation overload and extreme token lengths. Deterministic and
    * monotone — meant for threshold filtering of a 100 TB corpus, not as a
    * learned model.
    */
  def qualityScore(text: Column): Column = {
    val sw   = stopwordRatio(text)
    val pr   = punctRatio(text)
    val mtl  = meanTokenLen(text)
    val lenOk = when(length(text).between(20, 100000), 1.0).otherwise(0.25)
    val mtlOk = when(mtl.between(2.0, 12.0), 1.0).otherwise(0.25)
    val swPart = least(sw * lit(4.0), lit(1.0))
    val prPart = greatest(lit(1.0) - pr * lit(4.0), lit(0.0))
    (swPart * 0.4 + prPart * 0.3 + lenOk * 0.15 + mtlOk * 0.15)
  }

  // --- language identification --------------------------------------------

  /** Per-language marker token sets for the n-gram/stopword heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "una", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf"),
    "zh" -> Seq("de5", "shi4", "bu4") // pinyin-romanized markers (toy corpus)
  )

  /** Heuristic language ID: argmax over marker-token hit counts; ties and
    * zero-hit rows resolve to "und". Deterministic — the tie-break is the
    * declaration order of [[LangMarkers]].
    */
  def langIdHeuristic(text: Column): Column = {
    val p = profile(text)
    val scored = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(p.getField("set_hits"), i + 2)
    }
    val best = scored.tail.foldLeft[(Column, Column)]((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lang).otherwise(bestLang),
         greatest(score, bestScore))
    }
    when(best._2 === 0, "und").otherwise(best._1)
  }

  // --- tf-idf ---------------------------------------------------------------

  /** Per-(doc, term) TF-IDF over normalized tokens:
    * tf = term count in doc, idf = ln(N / df), score = tf * idf.
    * Pure aggregations over (doc, term) — two shuffles (term stats, doc
    * join), no array ops in the hot path.
    */
  def tfidf(df: org.apache.spark.sql.DataFrame, textCol: String,
            idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val terms = df.select(col(idCol).as("doc"),
        explode(normTokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc"), col("term")).agg(cnt(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(cnt(lit(1)).as("df"))
    val n = df.select(col(idCol)).distinct().count()
    tf.join(docFreq, Seq("term"))
      .withColumn("tfidf", col("tf").cast("double") *
        log(lit(n.toDouble) / col("df").cast("double")))
      .select(col("doc"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  // --- fingerprinting ------------------------------------------------------

  /** 64-bit content fingerprint of the normalized text: xxhash64 over the
    * canonical (lowercased, punctuation-stripped, single-spaced) form. Equal
    * fingerprints == near-certain exact duplicates after normalization; used
    * as the exact-dedup key so the shuffle carries 8-byte keys, not document
    * bodies.
    */
  def contentFingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", normTokens(text)))

  /** Fraction of word-n-gram occurrences that repeat an earlier occurrence
    * in the same document: 1 - distinct/total (the duplicate-ngram signal of
    * repetition-based quality filters). 0.0 when the document has fewer than
    * n tokens. Computed over 64-bit gram hashes — one narrow pass, no
    * explode; a SQL oracle over string grams computes the same value.
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val grams = graft.expressions.TextExpressions.ngramHashes(normTokens(text), n)
    val total = size(grams)
    when(total === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(grams)).cast("double") / total.cast("double"))
  }

  /** Email/phone patterns in the Java/RE2-common regex dialect (no
    * lookarounds, no \p{Punct}) so SQL oracles replicate matches exactly.
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+[0-9][0-9-]{7,}"

  /** Redact email addresses and international-format phone numbers — the
    * regex-transform stage of a privacy scrub. Pure codegen'd
    * regexp_replace: no UDF, safe in the 100 TB hot path.
    */
  def redactPii(text: Column, marker: String = "[PII]"): Column =
    regexp_replace(regexp_replace(text, EmailRegex, marker), PhoneRegex, marker)

  /** Count of replacements [[redactPii]] performs: emails on the original
    * text, phones on the email-redacted text — a phone-like digit run
    * embedded in an email address (e.g. "a+12345678@b.com") is consumed by
    * the email replacement and must not be counted twice.
    */
  def piiCount(text: Column, marker: String = "[PII]"): Column =
    (size(regexp_extract_all(text, lit(EmailRegex), lit(0))) +
      size(regexp_extract_all(regexp_replace(text, EmailRegex, marker),
        lit(PhoneRegex), lit(0)))).cast("long")

  /** Bigram language-model scoring (the CCNet-style perplexity quality
    * filter): token-bigram counts over the corpus itself with add-k
    * smoothing give P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V), and each
    * document scores the average ln P over its bigrams — less negative ==
    * more in-distribution text. Everything is counts and joins: the model
    * "training" is two partial-aggregated count tables + a vocab count,
    * scoring is a join of the doc bigrams back to them. Documents with
    * fewer than 2 tokens have no bigrams and are omitted. At 100 TB the
    * per-doc bigram join keys are the token pair strings; hash them
    * (xxhash64) to shrink the shuffle ~2x when oracle-exact counts are not
    * required.
    */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String,
                    addK: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(addK > 0, "addK must be positive (unseen bigrams need mass)")
    val toked = df.select(col(idCol), normTokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val bi = toked.select(col(idCol),
        explode(expr("transform(sequence(1, size(__toks) - 1), i -> " +
          "struct(element_at(__toks, i) AS w1, element_at(__toks, i + 1) AS w2))"))
          .as("__b"))
      .select(col(idCol), col("__b.w1"), col("__b.w2"))
      .materialize
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c12"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    val v = bi.agg(countDistinct(col("w2")).as("__v"))
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(
        avg(log((col("__c12") + addK) / (col("__c1") + lit(addK) * col("__v"))))
          .as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Markup stripping — the HTML-to-text stage every web-scrape pipeline
    * runs before quality filtering: drop script/style blocks wholesale
    * (their content is not prose), replace remaining tags with a space,
    * decode the common character entities, and collapse whitespace. Pure
    * regexp_replace/replace chain in the Java-and-RE2 common dialect —
    * codegen'd, linear per row, and replayable verbatim in a SQL oracle.
    * (Real pipelines layer boilerplate heuristics on top — see
    * [[graft.llm.Dedup.dedupLines]] for the corpus-level line filter.)
    */
  def stripMarkup(html: Column): Column = {
    // (?is): case-insensitive + dot-matches-newline; non-greedy body so
    // adjacent blocks don't merge. Unclosed blocks fall through to the
    // generic tag strip rather than eating the rest of the document.
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", " ")
    val noCmts = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noCmts, "(?s)</?[a-zA-Z!][^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&" // & LAST
    ).foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The DuckDB replay of [[stripMarkup]] over SQL fragment `h` — oracle
    * side (DuckDB regexp_replace needs the explicit 'g'+'i'+'s' flags).
    */
  def stripMarkupSql(h: String): String = {
    val noBlocks =
      s"regexp_replace($h, '<(script|style)\\b[^>]*>.*?</(script|style)\\s*>', ' ', 'gis')"
    val noCmts = s"regexp_replace($noBlocks, '<!--.*?-->', ' ', 'gs')"
    val noTags = s"regexp_replace($noCmts, '</?[a-zA-Z!][^>]*>', ' ', 'gs')"
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "''", "&amp;" -> "&" // '' = escaped quote
    ).foldLeft(noTags) { case (c, (ent, ch)) => s"replace($c, '$ent', '$ch')" }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Fixed-size token chunking with stride — context-window preparation
    * for embedding / retrieval pipelines: each document becomes windows of
    * `chunkTokens` whitespace tokens starting at 0, stride, 2*stride, ...;
    * the final window may be shorter, every token is covered (stride <=
    * chunkTokens), empty docs yield no chunks. Map-only explode — no
    * shuffle, safe at any corpus size. Output: (idCol, chunk_id,
    * chunk_text, n_chunk_tokens).
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String, chunkTokens: Int,
                stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      "need 1 <= stride <= chunkTokens (full token coverage)")
    val toked = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val starts = when(size(col("__toks")) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
    toked.select(col(idCol),
        posexplode(transform(starts, st => struct(
          array_join(slice(col("__toks"), st + 1, lit(chunkTokens)), " ").as("t"),
          least(lit(chunkTokens), size(col("__toks")) - st).as("n"))))
          .as(Seq("chunk_id", "__c")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("__c.t").as("chunk_text"), col("__c.n").cast("long").as("n_chunk_tokens"))
  }

  /** Unicode NFC composition (native expression wrapping the JDK
    * normalizer; DuckDB parity via nfc_normalize).
    */
  /** Shannon entropy (nats) of the code-point distribution — gibberish /
    * repetition filter (native one-pass expression).
    */
  def charEntropy(text: Column): Column =
    graft.expressions.TextExpressions.charEntropy(text)

  def nfcNormalize(text: Column): Column =
    graft.expressions.TextProfileExpressions.nfcNormalize(text)

  /** Canonical text normalization for cross-source matching: NFC compose,
    * lowercase, collapse whitespace runs to one space, trim. Composed and
    * decomposed spellings of the same text normalize to the same bytes, so
    * fingerprints/dedup keys built on this agree across ingest sources.
    * Everything but the NFC step is stock codegen'd functions; lower() is
    * Spark's locale-independent UTF8String lowercasing.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(nfcNormalize(text)), "\\s+", " "))
}
