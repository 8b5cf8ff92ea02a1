package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text profiling.
  *
  * The SQL-function formulation of document statistics re-tokenizes per
  * output column (regexp_replace + lower + split + lambda filter, times
  * each ratio) — at corpus scale that is the dominant CPU cost of a quality
  * pass. These expressions make exactly one scan over the document.
  *
  * Semantics are bit-identical to the SQL formulation the DuckDB oracles
  * use (see tools/check.py):
  *   - raw tokens    = maximal runs of non-[\t\n\x0B\f\r ] chars (regex \s);
  *   - norm tokens   = maximal runs of letter/number codepoints (everything
  *     else acts as a separator), lowercased — i.e.
  *     split(lower(regexp_replace(text,'[^\p{L}\p{N}\s]',' ')),'\s+') minus
  *     empties;
  *   - punct chars   = ASCII [!-/:-@\[-`{-~] (TextFunctions.PunctClass);
  *   - lengths count codepoints, matching SQL length().
  */
object TextProfileExpressions {

  def normTokens(text: Column): Column =
    ColumnShim.column(NormTokens(ColumnShim.expression(text)))

  def textProfile(text: Column, wordSets: Seq[Seq[String]]): Column =
    ColumnShim.column(TextProfile(ColumnShim.expression(text), wordSets))

  def nfcNormalize(text: Column): Column =
    ColumnShim.column(NfcNormalize(ColumnShim.expression(text)))

  private[expressions] def isRegexWhitespace(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  private[expressions] def isWordCp(cp: Int): Boolean = {
    // \p{L} (any letter) or \p{N} (Nd | Nl | No)
    if (Character.isLetter(cp)) true
    else {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }
  }

  private[expressions] def isAsciiPunct(cp: Int): Boolean =
    (cp >= '!' && cp <= '/') || (cp >= ':' && cp <= '@') ||
      (cp >= '[' && cp <= '`') || (cp >= '{' && cp <= '~')
}

/** Normalized tokens (lowercased letter/number runs) in one pass — the
  * native replacement for the filter/split/regexp_replace HOF chain.
  */
case class NormTokens(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import TextProfileExpressions._

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isWordCp(cp)) sb.appendCodePoint(Character.toLowerCase(cp))
      else if (sb.length > 0) { out += UTF8String.fromString(sb.toString); sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += UTF8String.fromString(sb.toString)
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass document statistics:
  * struct(n_chars, n_punct, n_toks, sum_tok_len, n_ntoks, set_hits) where
  * set_hits(i) counts normalized tokens contained in wordSets(i).
  */
case class TextProfile(child: Expression, wordSets: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback {
  import TextProfileExpressions._

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_toks", IntegerType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("n_ntoks", IntegerType, nullable = false),
    StructField("set_hits", ArrayType(IntegerType, containsNull = false), nullable = false)))

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    wordSets.map { ws =>
      val h = new java.util.HashSet[String]()
      ws.foreach(h.add)
      h
    }.toArray

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    var nChars = 0; var nPunct = 0
    var nToks = 0; var sumTokLen = 0L; var curTokLen = 0
    var nNtoks = 0
    val hits = new Array[Int](sets.length)
    val sb = new java.lang.StringBuilder

    def endNormTok(): Unit = if (sb.length > 0) {
      nNtoks += 1
      val tok = sb.toString
      var k = 0
      while (k < sets.length) { if (sets(k).contains(tok)) hits(k) += 1; k += 1 }
      sb.setLength(0)
    }

    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (isAsciiPunct(cp)) nPunct += 1
      // raw tokens: runs of non-whitespace
      if (isRegexWhitespace(cp)) {
        if (curTokLen > 0) { nToks += 1; sumTokLen += curTokLen; curTokLen = 0 }
      } else curTokLen += 1
      // norm tokens: runs of letter/number, lowercased
      if (isWordCp(cp)) sb.appendCodePoint(Character.toLowerCase(cp))
      else endNormTok()
      i += Character.charCount(cp)
    }
    if (curTokLen > 0) { nToks += 1; sumTokLen += curTokLen }
    endNormTok()

    new GenericInternalRow(Array[Any](
      nChars, nPunct, nToks, sumTokLen, nNtoks, new GenericArrayData(hits)))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode canonical composition (NFC). Spark has no builtin normalizer;
  * this wraps the JDK's (java.text.Normalizer) so composed and decomposed
  * spellings of the same text ("café" vs "cafe" + U+0301) fingerprint and
  * dedup identically. Parity analog of DuckDB's nfc_normalize — both
  * implement Unicode canonical composition, so results agree byte-for-byte.
  * Strings already in NFC (the overwhelming case — Normalizer.isNormalized
  * is a cheap quick-check scan) pass through without allocation.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
