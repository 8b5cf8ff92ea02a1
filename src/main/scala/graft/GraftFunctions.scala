package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expressions._

/** SQL-surface registration of the engine's native expressions, so plain
  * `spark.sql` users can call them — the engine's analog of the reference's
  * SerDe-registry entry point (SURVEY.md §2 A17: the piece that made its
  * formats usable from any host). [[GraftFunctions.register]] installs them
  * on a session.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other     => throw new IllegalArgumentException(s"$what must be a literal int, got $other")
  }

  /** (name, builder) for every SQL-exposed engine function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => ArrayDotProduct(es(0), es(1))),
    "graft_cosine" -> (es => ArrayCosineSim(es(0), es(1))),
    "graft_minhash" -> (es => MinHashSig(es(0), intArg(es(1), "numHashes"))),
    "graft_simhash" -> (es => SimHash64(es(0))),
    "graft_token_hashes" -> (es => TokenHashes(es(0))),
    "graft_ngram_hashes" -> (es => NgramHashes(es(0), intArg(es(1), "n"))),
    "graft_norm_tokens" -> (es => NormTokens(es(0))),
    "graft_match_fraction" -> (es => ArrayMatchFraction(es(0), es(1))),
    "graft_hyperplane_sig" -> (es => HyperplaneSig(es(0), intArg(es(1), "nBits"),
      if (es.length > 2) intArg(es(2), "planeOffset") else 0)),
    "graft_l2_normalize" -> (es => L2Normalize(es(0))),
    "graft_quantize_int8" -> (es => QuantizeInt8(es(0))),
    "graft_dequantize_int8" -> (es => DequantizeInt8(es(0))),
    "graft_random_projection" -> (es => RandomProjection(es(0),
      intArg(es(1), "outDim"), if (es.length > 2) intArg(es(2), "seed") else 0)),
    "graft_nfc_normalize" -> (es => NfcNormalize(es(0))),
    "graft_char_entropy" -> (es => CharEntropy(es(0))),
    "graft_jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    // Spark ships codegen'd bloom-filter expressions but registers them for
    // internal (runtime-filter) use only; exposing them through the engine
    // registry gives users the explicit broadcast-blocklist pattern with no
    // UDF in the hot path.
    "graft_bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2))),
    "graft_bloom_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))),
    // to_json with a caller-supplied null token (reference
    // SerDeUtils.getJSONString(..., nullStr)); SQL twin of
    // functions.JsonFunctions.toJsonNullStr
    "graft_to_json_nullstr" -> (es => {
      val token = es(1).eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"nullStr must be a literal string, got $other")
      }
      val rendered = org.apache.spark.sql.catalyst.expressions.StructsToJson(
        Map("ignoreNullFields" -> "false"), es(0))
      if (token == "null") rendered
      else org.apache.spark.sql.catalyst.expressions.RegExpReplace(
        rendered,
        org.apache.spark.sql.catalyst.expressions.Literal("(?<=[:,\\[])null(?=[,}\\]])"),
        org.apache.spark.sql.catalyst.expressions.Literal(
          java.util.regex.Matcher.quoteReplacement(token)))
    })
  )

  /** Register all engine functions on an existing session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
