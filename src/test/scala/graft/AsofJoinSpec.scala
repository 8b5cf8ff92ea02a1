package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AsofJoin

/** As-of join semantics: backward match, tie-breaks, no-match behavior, and
  * equivalence of the window and aggregation formulations.
  */
class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def quotes = Seq(
    // key, quote time, price
    ("A", ts("2024-01-01 10:00:00"), 1.0),
    ("A", ts("2024-01-01 10:05:00"), 2.0),
    ("A", ts("2024-01-01 10:10:00"), 3.0),
    ("B", ts("2024-01-01 10:00:00"), 9.0)
  ).toDF("qkey", "qts", "price")

  private def trades = Seq(
    (1L, "A", ts("2024-01-01 10:07:00")), // -> 10:05 quote (price 2.0)
    (2L, "A", ts("2024-01-01 10:10:00")), // exact match -> 10:10 (3.0)
    (3L, "A", ts("2024-01-01 09:00:00")), // before all quotes -> no match
    (4L, "B", ts("2024-01-01 11:00:00")), // -> 10:00 (9.0)
    (5L, "C", ts("2024-01-01 11:00:00"))  // key with no quotes -> no match
  ).toDF("trade_id", "tkey", "tts")

  test("backward picks the latest quote at-or-before each trade") {
    val got = AsofJoin.backward(trades, quotes,
        leftKey = "tkey", rightKey = "qkey",
        leftId = "trade_id", leftTs = "tts", rightTs = "qts")
      .select($"trade_id", $"price").orderBy($"trade_id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2.0), (2L, 3.0), (4L, 9.0)))
  }

  test("aggregation formulation matches the window formulation") {
    val win = AsofJoin.backward(trades, quotes,
        "tkey", "qkey", "trade_id", "tts", "qts")
      .select($"trade_id", $"price").orderBy($"trade_id")
      .as[(Long, Double)].collect().toSeq
    val agg = AsofJoin.backwardAgg(trades, quotes,
        "tkey", "qkey", "trade_id", "tts", "qts",
        rightTie = "price", pick = Seq("price" -> "price"))
      .select($"trade_id", $"price").orderBy($"trade_id")
      .as[(Long, Double)].collect().toSeq
    assert(agg == win)
  }

  test("tie on timestamp resolves by the tie column, descending") {
    val dupQuotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1.0),
      ("A", ts("2024-01-01 10:00:00"), 5.0)).toDF("qkey", "qts", "price")
    val oneTrade = Seq((1L, "A", ts("2024-01-01 10:30:00"))).toDF("trade_id", "tkey", "tts")
    val got = AsofJoin.backward(oneTrade, dupQuotes,
        "tkey", "qkey", "trade_id", "tts", "qts", rightTieCols = Seq("price"))
      .select($"price").as[Double].collect().toSeq
    assert(got == Seq(5.0))
  }

  test("left-outer aggregation form keeps unmatched left rows with nulls") {
    val got = AsofJoin.backwardOuterAgg(trades, quotes,
        "tkey", "qkey", "trade_id", "tts", "qts",
        rightTie = "price", pick = Seq("price" -> "price"),
        carryCols = Seq("tkey"))
      .select($"trade_id", $"price").orderBy($"trade_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq
    assert(got == Seq((1L, Some(2.0)), (2L, Some(3.0)), (3L, None),
      (4L, Some(9.0)), (5L, None)))
  }

  test("forward picks the earliest quote at-or-after each trade (both forms)") {
    val win = AsofJoin.forward(trades, quotes,
        "tkey", "qkey", "trade_id", "tts", "qts")
      .select($"trade_id", $"price").orderBy($"trade_id")
      .as[(Long, Double)].collect().toSeq
    // trade1 10:07 -> 10:10 quote (3.0); trade2 exact 10:10 (3.0);
    // trade3 09:00 -> first quote 10:00 (1.0); trade4/5: nothing after
    assert(win == Seq((1L, 3.0), (2L, 3.0), (3L, 1.0)))
  }
}
