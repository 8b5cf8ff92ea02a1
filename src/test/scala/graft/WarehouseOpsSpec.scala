package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{UrlFunctions => UF}
import graft.llm.Search
import graft.ops.{Profile, Resample, Sampling, Scd, ZOrder}

/** Warehouse-side operators added with q94–q99: BM25 search, SCD2 history,
  * gap-fill resampling, URL canonicalization, z-order layout, and
  * per-group quantile filtering.
  */
class WarehouseOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- BM25 ---------------------------------------------------------------

  test("bm25TopK ranks the doc containing all query terms first") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple"),
      (3L, "banana banana"),
      (4L, "cherry date egg"),
      (5L, "fig grape")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana")).toDF("query_id", "query_text")
    val top = Search.bm25TopK(docs, "text", "doc_id", qs, 3).collect()
      .sortBy(_.getAs[Long]("rank"))
    // doc 1 matches both terms; docs 2 and 3 match one each
    assert(top.head.getAs[Long]("doc_id") == 1L)
    assert(top.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    // scores strictly ordered desc with doc_id tiebreak
    val scores = top.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25TopK idf penalizes terms present in every doc") {
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common"),
      (3L, "common"),
      (4L, "common")).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common")).toDF("query_id", "query_text")
    val r = Search.bm25TopK(docs, "text", "doc_id", qs, 4)
      .groupBy($"query_id").agg(max($"score").as("m")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L), s"rare-term score ${r(1L)} should beat ${r(2L)}")
  }

  test("duplicate / reordered-term queries score identically to singletons") {
    // The serving path scores one representative per distinct term SET and
    // maps results back; a batch with exact-duplicate texts and same-set
    // different-order texts must return, per query_id, exactly the rows
    // that querying each alone (through the non-deduping ad-hoc path)
    // returns.
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple"),
      (3L, "banana banana"),
      (4L, "cherry date egg"),
      (5L, "fig grape")).toDF("doc_id", "text")
    val idx = TestSpark.tmpDir("bm25-dup-idx")
    Search.writeSearchIndex(docs, "text", "doc_id", idx)
    val batch = Seq(
      (1L, "apple banana"),
      (2L, "apple banana"),   // exact duplicate
      (3L, "banana  APPLE"),  // same set after tokenize: different order/case
      (4L, "fig")).toDF("query_id", "query_text")
    val got = Search.querySearchIndex(spark, idx, batch, 3)
    assert(got.select("query_id").distinct().count() == 4,
      "every duplicate query_id must appear in the output")
    for ((qid, text) <- Seq((1L, "apple banana"), (2L, "apple banana"),
        (3L, "banana  APPLE"), (4L, "fig"))) {
      val alone = Search.bm25TopK(docs, "text", "doc_id",
        Seq((qid, text)).toDF("query_id", "query_text"), 3)
      val mine = got.filter($"query_id" === qid)
      assert(mine.exceptAll(alone).isEmpty && alone.exceptAll(mine).isEmpty,
        s"batched result for query $qid must equal the singleton run")
    }
  }

  test("a batch carrying the same query ROW twice stays idempotent " +
    "(no doubled scores, no doubled rows) on both serving paths") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple"),
      (3L, "banana banana"),
      (4L, "cherry date egg")).toDF("doc_id", "text")
    val idx = TestSpark.tmpDir("bm25-dupro-idx")
    Search.writeSearchIndex(docs, "text", "doc_id", idx)
    val single = Seq((1L, "apple banana")).toDF("query_id", "query_text")
    val doubled = single.unionAll(single) // the SAME row twice
    // ad-hoc path (direct plan)
    val aOnce = Search.bm25TopK(docs, "text", "doc_id", single, 3)
    val aTwice = Search.bm25TopK(docs, "text", "doc_id", doubled, 3)
    assert(aTwice.exceptAll(aOnce).isEmpty && aOnce.exceptAll(aTwice).isEmpty,
      "duplicate input row must not double-count ad-hoc scores")
    // index serving path (dedupe + replicate map)
    val sOnce = Search.querySearchIndex(spark, idx, single, 3)
    val sTwice = Search.querySearchIndex(spark, idx, doubled, 3)
    assert(sTwice.exceptAll(sOnce).isEmpty && sOnce.exceptAll(sTwice).isEmpty,
      "duplicate input row must not replicate served rows")
  }

  test("max-score serving is exact: rare+common, all-common (fallback), " +
    "and tie-heavy batches all equal the ad-hoc scores") {
    // 40 docs all share "common"; 6 also carry "rare"; 3 carry "mid".
    // q1 mixes rare+common (pruned path: essential=rare, the common
    // postings join only candidates), q2 is all-common (bound can't
    // certify -> full-scoring fallback), q3 has two essential terms.
    val docs = (1L to 40L).map { i =>
      val extra = (if (i <= 6) " rare" else "") + (if (i % 13 == 0) " mid" else "")
      (i, s"common filler$extra")
    }.toDF("doc_id", "text")
    val idx = TestSpark.tmpDir("bm25-wand-idx")
    Search.writeSearchIndex(docs, "text", "doc_id", idx)
    val batch = Seq(
      (1L, "rare common"),
      (2L, "common filler"),
      (3L, "rare mid")).toDF("query_id", "query_text")
    val got = Search.querySearchIndex(spark, idx, batch, 4)
    val adHoc = Search.bm25TopK(docs, "text", "doc_id", batch, 4)
    assert(got.exceptAll(adHoc).isEmpty && adHoc.exceptAll(got).isEmpty,
      "max-score serving must return exactly the ad-hoc top-k")
  }

  test("persisted search index: ad-hoc parity + term pushdown into the scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = TestSpark.tmpDir("bm25-idx")
    Search.writeSearchIndex(docs, "text", "doc_id", idx)
    val qs = Seq((1L, "spark window agg"), (2L, "vector scan"))
      .toDF("query_id", "query_text")
    val viaIndex = Search.querySearchIndex(spark, idx, qs, 5)
    val adHoc = Search.bm25TopK(docs, "text", "doc_id", qs, 5)
    assert(viaIndex.exceptAll(adHoc).isEmpty &&
      adHoc.exceptAll(viaIndex).isEmpty,
      "index-served results must equal the ad-hoc computation")
    // the query-term IN filter must reach the postings parquet scan
    val formatted = viaIndex.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters") &&
      formatted.contains("In(term"),
      s"expected In(term, ...) pushed into the postings scan:\n$formatted")
  }

  test("bm25 plan shape: fanned (query, doc) rows aggregate without a shuffle") {
    // The serving path repartitions the narrow per-posting rows by doc_id
    // BEFORE the per-query fan-out join; hash(doc_id) then satisfies the
    // (query_id, doc_id) clustering of the score sum, so the fanned
    // relation — the largest in the plan — must NOT get its own exchange.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = TestSpark.tmpDir("bm25-plan-idx")
    Search.writeSearchIndex(docs, "text", "doc_id", idx)
    val qs = Seq((1L, "spark window agg"), (2L, "vector scan"))
      .toDF("query_id", "query_text")
    val formatted = Search.querySearchIndex(spark, idx, qs, 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val docOnly = "hashpartitioning\\(doc_id#\\d+L?".r
    assert(docOnly.findFirstIn(formatted).isDefined,
      s"expected the pre-fan-out repartition by doc_id:\n$formatted")
    val pairShuffle = "hashpartitioning\\(query_id#\\d+L?, doc_id#\\d+L?".r
    assert(pairShuffle.findFirstIn(formatted).isEmpty,
      s"the fanned (query, doc) relation must aggregate in place, " +
        s"not shuffle:\n$formatted")
  }

  test("bm25 plan shape: no text column in any post-tokenize exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = Seq((1L, "spark window agg")).toDF("query_id", "query_text")
    val formatted = Search.bm25TopK(docs, "text", "doc_id", qs, 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // every Exchange's Input must carry ids/terms/ints only — the document
    // body is consumed map-side during tokenization
    val blocks = formatted.split("\\(\\d+\\) ")
    val exchanges = blocks.filter(b =>
      b.startsWith("Exchange") || b.startsWith("BroadcastExchange"))
    assert(exchanges.nonEmpty)
    exchanges.foreach { b =>
      assert(!b.contains("text#"),
        s"text column leaked into a shuffle:\n$b")
    }
  }

  // --- SCD2 ---------------------------------------------------------------

  test("scd2History collapses consecutive duplicates and versions intervals") {
    val log = Seq(
      (10L, 1L, "A"), (10L, 2L, "A"), (10L, 3L, "B"), (10L, 4L, "A"),
      (20L, 1L, "X")).toDF("k", "seq", "attr")
      .withColumn("ts", timestamp_seconds($"seq" * 100))
    val h = Scd.scd2History(log, "k", "attr", "ts", "seq")
      .orderBy($"k", $"version").collect()
    val k10 = h.filter(_.getLong(0) == 10L)
    assert(k10.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    assert(k10.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    // intervals chain: valid_to of v1 == valid_from of v2
    assert(k10(0).getAs[java.sql.Timestamp]("valid_to") ==
      k10(1).getAs[java.sql.Timestamp]("valid_from"))
    assert(k10(2).isNullAt(k10(2).fieldIndex("valid_to")))
    assert(k10(2).getAs[Boolean]("is_current"))
    val k20 = h.filter(_.getLong(0) == 20L)
    assert(k20.length == 1 && k20(0).getAs[Boolean]("is_current"))
  }

  test("scd2History single shuffle: one Exchange in the plan") {
    val log = Seq((1L, 1L, "A")).toDF("k", "seq", "attr")
      .withColumn("ts", timestamp_seconds($"seq"))
    val plan = Scd.scd2History(log, "k", "attr", "ts", "seq")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle:\n$plan")
  }

  // --- snapshot diff --------------------------------------------------------

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safe") {
    val v1 = Seq((1L, Some("a"), 1.0), (2L, Some("b"), 2.0),
      (3L, None: Option[String], 3.0), (4L, Some("d"), 4.0))
      .toDF("k", "s", "v")
    val v2 = Seq((1L, Some("a"), 1.0),              // unchanged
      (2L, Some("B"), 2.0),                          // changed (s)
      (3L, None: Option[String], 3.0),               // unchanged (null == null)
      (5L, Some("e"), 5.0))                          // added; 4 removed
      .toDF("k", "s", "v")
    val got = graft.ops.Diff.snapshotDiff(v1, v2, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change_type")).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
    val summary = graft.ops.Diff.diffSummary(v1, v2, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 2L))
  }

  test("diffSummaryPruned equals the full diff; equal tables prune fully") {
    val v1 = spark.range(5000).select($"id".as("k"),
      ($"id" % 37).cast("string").as("s"), ($"id" * 1.5).as("v"))
    val v2 = v1.filter($"k" % 501 =!= 0) // a few removes
      .withColumn("v", when($"k" % 703 === 0, $"v" + 1.0).otherwise($"v"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = m(graft.ops.Diff.diffSummary(v1, v2, Seq("k"), Seq("s", "v")))
    val pruned = m(graft.ops.Diff.diffSummaryPruned(v1, v2, Seq("k"),
      Seq("s", "v"), nBuckets = 256))
    assert(pruned == full, s"pruned $pruned != full $full")
    // identical snapshots: every bucket fingerprint agrees -> the summary
    // is pure-unchanged credited from the fingerprints (no row join work)
    val same = m(graft.ops.Diff.diffSummaryPruned(v1, v1, Seq("k"),
      Seq("s", "v"), nBuckets = 256))
    assert(same == Map("unchanged" -> 5000L))
  }

  // --- gap fill -----------------------------------------------------------

  test("dimensionJoin picks the in-force interval; early facts get null") {
    // history for key 1: a@[10,20), b@[20,null); key 2: c@[15,null)
    val hist = Seq(
      (1L, "a", 10L, Some(20L), 1L, false),
      (1L, "b", 20L, None, 2L, true),
      (2L, "c", 15L, None, 1L, true)
    ).toDF("k", "attr", "valid_from", "valid_to", "version", "is_current")
    val facts = Seq(
      (100L, 1L, 5L),   // before first interval -> null
      (101L, 1L, 10L),  // on boundary -> a
      (102L, 1L, 19L),  // inside -> a
      (103L, 1L, 20L),  // boundary of next -> b
      (104L, 2L, 99L),  // open interval -> c
      (105L, 3L, 50L)   // unknown key -> null
    ).toDF("fid", "k", "ts")
    val got = graft.ops.Scd.dimensionJoin(facts, hist, "k", "ts")
      .select($"fid", $"attr").as[(Long, Option[String])].collect().toMap
    assert(got == Map(100L -> None, 101L -> Some("a"), 102L -> Some("a"),
      103L -> Some("b"), 104L -> Some("c"), 105L -> None))
  }

  test("cdcApply: last-writer-wins upsert/delete/insert/pass-through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "v")
    val log = Seq(
      (1L, 5L, "U", "a2", 11.0),  // update, wins over seq 3
      (1L, 3L, "U", "a1", 10.5),
      (2L, 7L, "D", "x", 0.0),    // delete existing
      (2L, 6L, "U", "b1", 21.0),  // superseded by the delete
      (5L, 9L, "I", "e", 50.0),   // insert brand-new key
      (6L, 2L, "D", "x", 0.0)     // delete of an absent key: no row
    ).toDF("k", "seq", "op", "name", "v")
    val got = graft.ops.Diff.cdcApply(base, log, Seq("k"), "seq", "op")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a2", 11.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))
  }

  test("cdcApply: delete-then-reinsert at a higher sequence resurrects") {
    val base = Seq((1L, "a", 1.0)).toDF("k", "name", "v")
    val log = Seq((1L, 2L, "D", "x", 0.0), (1L, 3L, "I", "a2", 2.0))
      .toDF("k", "seq", "op", "name", "v")
    val got = graft.ops.Diff.cdcApply(base, log, Seq("k"), "seq", "op")
      .as[(Long, String, Double)].collect()
    assert(got.toSeq == Seq((1L, "a2", 2.0)))
  }

  test("kAnonymous keeps exactly the rows of groups >= k, nulls grouped") {
    val rows = Seq(
      (1L, Some("US"), "A"), (2L, Some("US"), "A"), (3L, Some("US"), "A"),
      (4L, Some("DE"), "A"), (5L, Some("DE"), "A"),
      (6L, None, "B"), (7L, None, "B"), (8L, None, "B"),
      (9L, Some("FR"), "C")).toDF("id", "country", "seg")
    val kept = graft.ops.Checks.kAnonymous(rows, Seq("country", "seg"), k = 3)
      .select($"id").as[Long].collect().toSet
    // US/A (3 rows) and null/B (3 rows) survive; DE/A (2) and FR/C (1) don't
    assert(kept == Set(1L, 2L, 3L, 6L, 7L, 8L))
  }

  test("gapFillHourly materializes gap buckets and forward-fills") {
    val ev = Seq(
      (1L, 0L, 10.0), (1L, 3600L * 3, 40.0), // hours 0 and 3; 1-2 are gaps
      (2L, 3600L, 5.0)).toDF("k", "sec", "v0")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Resample.gapFillHourly(ev, "k", "ts", "v0")
      .orderBy($"k", $"bucket").collect()
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.length == 4)
    assert(k1.map(_.getAs[Boolean]("is_gap")).toSeq ==
      Seq(false, true, true, false))
    assert(k1.map(_.getAs[Double]("v_filled")).toSeq ==
      Seq(10.0, 10.0, 10.0, 40.0))
    assert(k1.map(_.getAs[Long]("n")).toSeq == Seq(1L, 0L, 0L, 1L))
    assert(out.count(_.getLong(0) == 2L) == 1)
  }

  test("gapFillHourly: null-valued events keep the bucket non-gap") {
    val ev = Seq(
      (1L, 0L, Some(10.0)),
      (1L, 3600L, None: Option[Double]), // events exist, values all null
      (1L, 7200L, Some(30.0))).toDF("k", "sec", "v0")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Resample.gapFillHourly(ev, "k", "ts", "v0")
      .orderBy($"bucket").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Boolean]("is_gap")).toSeq ==
      Seq(false, false, false))
    assert(out(1).getAs[Long]("n") == 1L)
    assert(out(1).isNullAt(out(1).fieldIndex("v")))
    // the null-valued hour forward-fills from hour 0
    assert(out(1).getAs[Double]("v_filled") == 10.0)
  }

  test("scd2History treats null attributes as a distinct interval value") {
    val log = Seq(
      (10L, 1L, Some("A")), (10L, 2L, None: Option[String]),
      (10L, 3L, None: Option[String]), (10L, 4L, Some("B")))
      .toDF("k", "seq", "attr")
      .withColumn("ts", timestamp_seconds($"seq" * 100))
    val h = Scd.scd2History(log, "k", "attr", "ts", "seq")
      .orderBy($"version").collect()
    // A -> null (two collapsed) -> B = 3 intervals
    assert(h.length == 3)
    assert(h(1).isNullAt(1) && h(1).getAs[Long]("version") == 2L)
    assert(h(2).getString(1) == "B" && h(2).getAs[Boolean]("is_current"))
  }

  // --- URL canonicalization ------------------------------------------------

  test("canonicalizeUrl collapses case/www/port/tracking/fragment variants") {
    val urls = Seq(
      "HTTPS://WWW.Site.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
      "https://site.com/a/b?a=1&b=2&fbclid=zzz",
      "http://site.com:80/a/b?b=2&a=1&gclid=q",
      "https://other.com/",
      "no-scheme-at-all").toDF("url")
    val got = TestSpark.rows(urls.select(UF.canonicalizeUrl($"url")))
      .flatten.map(_.toString)
    assert(got(0) == "https://site.com/a/b?a=1&b=2")
    assert(got(1) == "https://site.com/a/b?a=1&b=2")
    assert(got(2) == "http://site.com/a/b?a=1&b=2")
    assert(got(3) == "https://other.com")
    assert(got(4) == "no-scheme-at-all")
  }

  test("canonicalizeUrl keeps non-default ports and non-tracking params") {
    val got = TestSpark.rows(Seq("https://site.com:8443/x?z=1&utm_medium=m")
      .toDF("url").select(UF.canonicalizeUrl($"url"))).flatten.head
    assert(got == "https://site.com:8443/x?z=1")
  }

  // --- z-order -------------------------------------------------------------

  test("zValue interleaves bits (known small values)") {
    // x=0b11, y=0b01 -> z = x0<<0 | y0<<1 | x1<<2 | y1<<3 = 1|2|4 = 7
    val got = TestSpark.rows(Seq((3L, 1L)).toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y", 4))).flatten.head
    assert(got == 7L)
    // x=0, y=0b10 -> y1 at position 3 -> 8
    val got2 = TestSpark.rows(Seq((0L, 2L)).toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y", 4))).flatten.head
    assert(got2 == 8L)
  }

  test("zorderWrite tightens per-file spans on BOTH columns vs linear sort") {
    val n = 20000
    val df = spark.range(n).select(
      (col("id") * 2654435761L % n).as("a"),
      (col("id") * 40503L % n).as("b"))
    val dir = TestSpark.tmpDir("graft-zorder")
    // baseline: lexicographic sort by a -> b spans stay ~full-range
    df.repartitionByRange(8, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(s"$dir/lex")
    ZOrder.zorderWrite(df, "a", "b", s"$dir/z", nFiles = 8, bits = 8)
    def meanSpan(path: String, c: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(
          (max(col(c)) - min(col(c))).cast("double")).collect()(0)
        r.getDouble(0)
      }
      spans.sum / spans.length
    }
    // on the non-leading column the z-layout must be dramatically tighter
    val lexB = meanSpan(s"$dir/lex", "b")
    val zB = meanSpan(s"$dir/z", "b")
    assert(zB < lexB * 0.6, s"z-order b-span $zB !< 0.6 * lex b-span $lexB")
    // and the leading column must not degrade to full range either
    val zA = meanSpan(s"$dir/z", "a")
    assert(zA < n * 0.9, s"z-order a-span $zA ~ full range")
  }

  // --- funnel ---------------------------------------------------------------

  test("funnelCounts enforces strict stage ordering per user") {
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // user 2: clicks BEFORE viewing — click must not count
      (2L, 10L, "click"), (2L, 20L, "view"),
      // user 3: view then purchase without click — purchase must not count
      (3L, 10L, "view"), (3L, 20L, "purchase"),
      // user 4: never views
      (4L, 10L, "click"), (4L, 20L, "purchase")).toDF("u", "sec", "et")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = graft.ops.Funnel.funnelCounts(ev, "u", "ts", "et",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "view", 3L), (2L, "click", 1L),
      (3L, "purchase", 1L)))
  }

  test("funnelCounts reports mean stage-to-stage delay") {
    val ev = Seq(
      (1L, 0L, "view"), (1L, 100L, "click"),
      (2L, 0L, "view"), (2L, 300L, "click")).toDF("u", "sec", "et")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = graft.ops.Funnel.funnelCounts(ev, "u", "ts", "et",
        Seq("view", "click")).collect()
    val clickRow = got.find(_.getString(1) == "click").get
    assert(clickRow.getDouble(3) == 200.0)
    assert(got.find(_.getString(1) == "view").get.isNullAt(3))
  }

  test("funnel maxGap drops conversions outside the window") {
    val ev = Seq(
      (1L, 0L, "view"), (1L, 50L, "click"),    // inside 100s window
      (2L, 0L, "view"), (2L, 500L, "click"),   // outside
      (3L, 0L, "view"), (3L, 100L, "click")    // exactly at the bound -> in
    ).toDF("u", "sec", "et").withColumn("ts", timestamp_seconds($"sec"))
    val got = graft.ops.Funnel.funnelCounts(ev, "u", "ts", "et",
        Seq("view", "click"), maxGapSeconds = Some(100L))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("view" -> 3L, "click" -> 2L))
  }

  // --- count-min sketch -------------------------------------------------------

  test("countMin never underestimates and respects the eps*N bound") {
    val items = (1 to 50).flatMap(i => Seq.fill(i)(s"tok$i"))
    val ds = items.toDF("t").as[String]
    val d = 4; val w = 256
    val sketch = ds.select(graft.ops.TypedAggregators.countMin(d, w))
      .collect()(0).toIndexedSeq
    val n = items.length
    val bound = math.ceil(math.E / w * n).toLong
    (1 to 50).foreach { i =>
      val est = graft.ops.TypedAggregators.CountMin.estimate(
        sketch, d, w, s"tok$i")
      assert(est >= i, s"tok$i: est $est < true $i")
      assert(est <= i + bound, s"tok$i: est $est > $i + $bound")
    }
    // an absent item can only collide upward, never report negative
    val absent = graft.ops.TypedAggregators.CountMin.estimate(
      sketch, d, w, "never-seen")
    assert(absent >= 0 && absent <= bound)
  }

  test("countMin merge equals single-pass build (mergeable summary)") {
    val d = 3; val w = 64
    val agg = new graft.ops.TypedAggregators.CountMin(d, w)
    val xs = Seq("a", "b", "a", "c", "a", "b")
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(
      xs.take(3).foldLeft(agg.zero)(agg.reduce),
      xs.drop(3).foldLeft(agg.zero)(agg.reduce))
    assert(whole.toSeq == merged.toSeq)
  }

  // --- histogram -------------------------------------------------------------

  test("histogram materializes empty buckets and puts max in the last") {
    val df = Seq(0.0, 1.0, 1.0, 10.0).toDF("x")
    val h = graft.ops.Profile.histogram(df, "x", 5)
      .orderBy($"bucket").collect()
    assert(h.length == 5)
    assert(h.map(_.getAs[Long]("n")).toSeq == Seq(3L, 0L, 0L, 0L, 1L))
    assert(h.head.getAs[Double]("lo") == 0.0)
    assert(h.last.getAs[Double]("hi") == 10.0)
  }

  test("equiDepthHistogram: equal mass on uniform data AND under heavy skew") {
    val uni = (1 to 1000).map(i => Tuple1(i.toDouble)).toDF("v")
    val u = Profile.equiDepthHistogram(uni, "v", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u.keySet == (0L to 9L).toSet)
    assert(u.values.forall(n => n >= 99 && n <= 101), u.toString)
    // lognormal-ish skew: an equi-width histogram would collapse into one
    // hot bucket; equi-depth must still split ~evenly
    val skew = (1 to 1000).map(i => Tuple1(math.exp(i / 100.0))).toDF("v")
    val s = Profile.equiDepthHistogram(skew, "v", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s.values.forall(n => n >= 99 && n <= 101), s.toString)
  }

  test("histogram of a constant column lands everything in bucket 0") {
    val df = Seq(5.0, 5.0, 5.0).toDF("x")
    val h = graft.ops.Profile.histogram(df, "x", 4)
      .orderBy($"bucket").collect()
    assert(h.map(_.getAs[Long]("n")).toSeq == Seq(3L, 0L, 0L, 0L))
  }

  // --- shard export -----------------------------------------------------------

  test("shardAssignments packs consecutive ranks into token-budget shards") {
    val docs = (1L to 100L).map(i => (i, 10L)).toDF("id", "toks")
    val asg = graft.ops.Sharding.shardAssignments(
        docs, Seq(col("id")), col("toks"), tokensPerShard = 100L)
      .orderBy($"pos").collect()
    // 100 docs x 10 tokens / 100-token budget = 10 shards of exactly 10 docs
    assert(asg.map(_.getAs[Long]("shard_id")).distinct.length == 10)
    val byShard = asg.groupBy(_.getAs[Long]("shard_id")).view.mapValues(_.length)
    assert(byShard.values.forall(_ == 10))
    // shard ids are non-decreasing along the global order
    val ids = asg.map(_.getAs[Long]("shard_id"))
    assert(ids.zip(ids.tail).forall { case (a, b) => a <= b })
  }

  // --- quantile filter ------------------------------------------------------

  test("topQuantileByGroup keeps exactly the top 20% ranks per group") {
    val df = (1 to 100).map(i => ("g" + (i % 2), i.toDouble, i.toLong))
      .toDF("g", "score", "id")
    val kept = Sampling.topQuantileByGroup(df, "g", "score", "id", 0.8)
      .collect()
    // 50 rows per group, percent_rank >= 0.8 -> ranks 41..50 -> 10 rows each
    assert(kept.length == 20)
    assert(kept.map(_.getDouble(1)).min >= 81.0)
  }

  test("tfidfPairs: identical docs score 1, df cap silences ubiquitous terms, disjoint score nothing") {
    // "stopword" is in every doc (df 12 > maxDf 10): it alone must not
    // make a pair; docs 1/2 are identical -> cosine 1 on the pruned vocab
    val docs = Seq(
      (1L, "alpha beta stopword"), (2L, "alpha beta stopword"),
      (3L, "gamma delta stopword"), (4L, "gamma epsilon stopword"),
      (5L, "delta epsilon stopword")) ++
      (6L to 12L).map(i => (i, s"filler$i stopword"))
    val out = Search.tfidfPairs(docs.toDF("doc_id", "text"), "text", "doc_id",
        minDf = 2L, maxDf = 10L, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)
    // 3 and 4 share only "gamma" (kept); both also carry an unshared
    // surviving term (delta/epsilon, df 2) -> positive but below 1
    assert(out((3L, 4L)) > 0 && out((3L, 4L)) < 1.0)
    // pairs sharing ONLY the capped stopword never materialize
    assert(!out.contains((1L, 3L)) && !out.contains((6L, 7L)))
  }

  // --- decayed sum / mutual information -----------------------------------

  test("decayedSum weights recent events fully and old events negligibly") {
    import java.sql.Timestamp
    val day = 86400L * 1000
    val now = 1700000000000L
    val rows = Seq(
      ("u1", new Timestamp(now), 100.0),          // decay 1.0
      ("u1", new Timestamp(now - 7 * day), 100.0), // decay e^-1 ~ 36.8
      ("u2", new Timestamp(now - 700 * day), 100.0)) // decay ~ 0
    val out = Resample.decayedSum(rows.toDF("k", "ts", "v"), "k", "ts", "v",
        tauSeconds = 7.0 * 86400)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("u1") - (100.0 + 100.0 * math.exp(-1.0))) < 1e-3)
    assert(out("u2") == 0.0) // rounds to 0 at 4 dp
  }

  test("benfordAudit: exact digit extraction, zero digits materialized, conforming data scores ~0") {
    // digits planted directly: 9.7 must read as 9 (floor, not round);
    // digit 5 absent -> row with n_d 0 must still appear
    val rows = Seq(1.0, 19.5, 100.0, 2.0, 250.0, 9.7, 0.5).map(("k", _))
    val out = Profile.benfordAudit(rows.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == (1L to 9L).toSet)
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L && out(9L)._1 == 1L)
    assert(out(5L)._1 == 0L) // materialized zero
    assert(out.values.map(_._1).sum == 6L) // 0.5 excluded (< 1)
    // a geometric series is Benford-conforming: chi2 terms all small
    val ben = (0 until 2000).map(i => ("g", math.pow(1.007, i)))
    val chi = Profile.benfordAudit(ben.toDF("k", "v"), "k", "v")
      .collect().map(_.getDouble(5)).sum
    assert(chi < 17.0, s"conforming data chi2 $chi") // chi2_0.95,8 = 15.5
  }

  test("mutual information: identical columns give NMI 1, independent give ~0") {
    val dep = (1 to 400).map(i => (s"c${i % 4}", s"c${i % 4}")).toDF("a", "b")
    val d = Profile.mutualInformation(dep, "a", "b").head()
    assert(d.getDouble(0) == d.getDouble(2)) // MI == H when b == a
    assert(d.getDouble(3) == 1.0)
    val ind = (1 to 400).map(i => (s"x${i % 4}", s"y${i % 5}")).toDF("a", "b")
    val n = Profile.mutualInformation(ind, "a", "b").head()
    assert(math.abs(n.getDouble(2)) < 1e-6 && math.abs(n.getDouble(3)) < 1e-6)
  }
}
