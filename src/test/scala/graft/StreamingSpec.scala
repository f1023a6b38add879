package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TableSwap, XrefStore}
import graft.streaming.Streams

/** Structured-Streaming specs (SURVEY.md §2 st-block) driven through
  * MemoryStream micro-batches: watermarked tumbling aggregation,
  * within-watermark dedup, and stateful sessionization.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  /** A fresh streaming checkpoint location under the session's
    * warehouse (the same root TableSwap.dropManaged cleans).
    */
  private def checkpointDir(prefix: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/${prefix}_${System.nanoTime()}"

  test("st1 windowed counts aggregate by tumbling event-time window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedCounts(df, watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("memory").queryName("st1_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(3), "b", 5.0))
      q.processAllAvailable()
      // advance the watermark far enough to close the 10:00 window
      in.addData((ts(30), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.table("st1_out")
        .select("event_type", "n", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("st2 duplicate event ids collapse within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "event_type")
    val q = Streams.dedupStream(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("st2_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, ts(1), "a"), (1L, ts(2), "a"), (2L, ts(3), "b"))
      q.processAllAvailable()
      in.addData((1L, ts(4), "a"), (3L, ts(5), "c"))
      q.processAllAvailable()
      val ids = spark.table("st2_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("st4 streaming stats view updates incrementally (materialized-view twin)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // statements stream → per (dataset, schema) stats in update mode —
    // the streaming face of the reference's stats MV (engine.py:204)
    val in = MemoryStream[(String, String, String)]
    val df = in.toDF().toDF("dataset", "schema", "canonical_id")
    val agg = Streams.statsView(df)
    val q = agg.writeStream.format("memory").queryName("st4_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("ds", "Person", "e1"), ("ds", "Person", "e1"),
        ("ds", "Person", "e2"))
      q.processAllAvailable()
      in.addData(("ds", "Person", "e3"), ("ds", "Company", "c1"))
      q.processAllAvailable()
      val rows = spark.table("st4_out").collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(rows("Person") == ((3L, 4L))) // 3 entities, 4 statements
      assert(rows("Company") == ((1L, 1L)))
    } finally q.stop()
  }

  test("st5 streaming statement ingest lands in a table; FINAL dedups at read") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    TableSwap.dropManaged(spark, "st5_stmts")
    // (id, entity_id, canonical_id, prop, prop_type, schema, value, dataset, last_seen)
    val in = MemoryStream[(String, String, String, String, String, String,
      String, String, Timestamp)]
    val df = in.toDF().toDF("id", "entity_id", "canonical_id", "prop",
      "prop_type", "schema", "value", "dataset", "last_seen")
    val q = Streams.statementFileIngest(df)
      .option("checkpointLocation", checkpointDir("st5_ckpt"))
      .toTable("st5_stmts")
    try {
      in.addData(
        ("s1", "e1", "e1", "name", "name", "P", "Ann", "ds", ts(1)),
        ("s1", "e1", "e1", "name", "name", "P", "Ann", "ds", ts(2)))
      q.processAllAvailable()
      assert(spark.table("st5_stmts").count() == 2)
      // FINAL on the streamed table: duplicate key collapses to max ts
      val fin = graft.operators.ReplacingMerge.latestByKey(
        spark.table("st5_stmts"),
        keys = graft.sources.StatementStore.keyCols.map(
          org.apache.spark.sql.functions.col),
        version = Seq(org.apache.spark.sql.functions.col("last_seen")))
      assert(fin.count() == 1)
      assert(fin.collect()(0).getAs[Timestamp]("last_seen") == ts(2))
    } finally q.stop()
  }

  test("st6 incremental fpx_freq view over a statement stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the fpx derivation is stateless (filter + explode), so it lifts
    // to streaming unchanged; freq is an update-mode aggregation —
    // the incremental twin of the reference's fpx_freq MV
    val in = MemoryStream[(String, String, String, String, String, String, String)]
    val stmts = in.toDF().toDF("entity_id", "canonical_id", "schema",
      "dataset", "prop", "prop_type", "value")
    val freq = Streams.fpxFreqView(stmts)
    val q = freq.writeStream.format("memory").queryName("st6_out")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        ("e1", "e1", "P", "ds", "name", "name", "Tchibo Holding"),
        ("e2", "e2", "P", "ds", "name", "name", "Tchibo Holding AG"))
      q.processAllAvailable()
      val rows = spark.table("st6_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // shared long token blocks both entities
      assert(rows("tchibo") == 2L)
      assert(rows("holding") == 2L)
      assert(rows("holding tchibo") == 1L)
      assert(rows("ag holding tchibo") == 1L)
    } finally q.stop()
  }

  test("st7 continuous xref candidates: stream joins the stored fpx table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the static side: a stored fpx table with two known entities
    val stored = graft.operators.Fpx.fromStatements(Seq(
      ("k1", "P", "ds1", "name", "name", "Tchibo Holding AG"),
      ("k2", "P", "ds1", "name", "name", "Holding Tchibo"),
      ("k3", "P", "ds2", "name", "name", "Unrelated Corp"))
      .toDF("entity_id", "schema", "dataset", "prop", "prop_type", "value"))
    val in = MemoryStream[(String, String, String, String, String, String)]
    val stmts = in.toDF().toDF("entity_id", "schema", "dataset", "prop",
      "prop_type", "value")
    val q = graft.streaming.Streams.xrefCandidates(stmts, stored)
      .writeStream.format("memory").queryName("st7_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("n1", "P", "dsx", "name", "name", "Tchibo GmbH"))
      q.processAllAvailable()
      val rows = spark.table("st7_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // "tchibo" blocks against both known Tchibo entities, nothing else
      assert(rows == Set(("n1", "k1", "tchibo"), ("n1", "k2", "tchibo")))
      // a second arrival only probes its own tokens
      in.addData(("n2", "P", "dsx", "name", "name", "Unrelated Inc"))
      q.processAllAvailable()
      val rows2 = spark.table("st7_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows2 == rows + (("n2", "k3", "unrelated")))
    } finally q.stop()
  }

  test("st8 streaming ingest double-inserts statements + fpx per batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st8_stmts", "st8_stmts_fpx")) TableSwap.dropManaged(spark, t)
    // (id, entity_id, canonical_id, prop, prop_type, schema, value, last_seen, dataset)
    val in = MemoryStream[(String, String, String, String, String, String,
      String, Timestamp, String)]
    val df = in.toDF().toDF("id", "entity_id", "canonical_id", "prop",
      "prop_type", "schema", "value", "last_seen", "dataset")
    val q = Streams.ingestStatements(df, "st8_stmts")
      .option("checkpointLocation",
        checkpointDir("st8_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        ("s1", "e1", "e1", "name", "name", "Person", "Tchibo Holding AG",
          ts(1), "ds"),
        ("s2", "e1", "e1", "amount", "number", "Person", "500", ts(1), "ds"))
      q.processAllAvailable()
      in.addData(
        ("s3", "e2", "e2", "name", "name", "Person", "Holding Tchibo",
          ts(2), "ds"))
      q.processAllAvailable()
      // statements landed across batches
      assert(spark.table("st8_stmts").count() == 3)
      // the fpx sibling indexed BOTH batches' name statements (and only
      // those — the amount statement feeds nothing)
      val fpx = spark.table("st8_stmts_fpx")
        .filter($"algorithm" === "fingerprint")
      val byEntity = fpx.select($"entity_id", $"value").collect()
        .map(r => r.getString(0) -> r.getString(1))
      assert(byEntity.count(_._1 == "e1") > 0 &&
        byEntity.count(_._1 == "e2") > 0)
      // shared blocking token from both batches → f8's blocker sees the
      // pair immediately
      val tchibo = byEntity.filter(_._2 == "tchibo").map(_._1).toSet
      assert(tchibo == Set("e1", "e2"))
    } finally q.stop()
  }

  test("st9 streaming xref ingest maintains main + reverse projection") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st9_xref", "st9_xref_reverse")) TableSwap.dropManaged(spark, t)
    val in = MemoryStream[(String, String, String, String, String, String,
      String, String, String, String, String, Double, Timestamp, String)]
    val df = in.toDF().toDF(graft.operators.Xref.columns: _*)
    val q = Streams.ingestXref(df, "st9_xref")
      .option("checkpointLocation",
        checkpointDir("st9_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        ("ds", "a1", "P", "de", "Ann", "ds", "b1", "P", "de", "Bob",
          "no_judgement", 0.9, ts(1), "u"))
      q.processAllAvailable()
      // a later batch UPSERTS the same pair — FINAL must keep it
      in.addData(
        ("ds", "a1", "P", "de", "Ann", "ds", "b1", "P", "de", "Bob",
          "positive", 0.9, ts(2), "u"),
        ("ds", "a2", "P", "de", "Cay", "ds", "b2", "P", "de", "Dee",
          "negative", 0.4, ts(2), "u"))
      q.processAllAvailable()
      // both tables saw both batches
      assert(spark.table("st9_xref").count() == 3)
      assert(spark.table("st9_xref_reverse").count() == 3)
      // FINAL read: the replayed pair collapses to its latest judgement
      val latest = XrefStore.readLatest(spark, "st9_xref").collect()
        .map(r => (r.getAs[String]("left_id"), r.getAs[String]("right_id"))
          -> r.getAs[String]("judgement")).toMap
      assert(latest == Map(("a1", "b1") -> "positive",
        ("a2", "b2") -> "negative"))
      // the reverse projection serves right-side point lookups
      val byRight = XrefStore.lookupByRight(spark, "st9_xref", "b1")
        .collect().map(r => (r.getAs[String]("left_id"),
          r.getAs[String]("judgement")))
      assert(byRight.toSeq == Seq(("a1", "positive")))
    } finally q.stop()
  }

  test("st15 streaming resolver: served mapping equals recompute at every batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st15_xref", "st15_xref_reverse", "st15_xref_mapping"))
      TableSwap.dropManaged(spark, t)
    def pair(l: String, r: String, j: String, t: Int) =
      ("ds", l, "P", "de", l.toUpperCase, "ds", r, "P", "de",
        r.toUpperCase, j, 0.9, ts(t), "u")
    // the stream's foreachBatch writes through a CLONED session; this
    // observer session must refresh its cached file listings (standard
    // external-append semantics, same as the st13 mid-stream compact)
    def served(): Map[String, String] = {
      spark.sql("REFRESH TABLE st15_xref_mapping")
      XrefStore.readMapping(spark, "st15_xref").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    def recomputed(): Map[String, String] = {
      spark.sql("REFRESH TABLE st15_xref")
      graft.operators.Xref.resolverMapping(
        XrefStore.readLatest(spark, "st15_xref")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val in = MemoryStream[(String, String, String, String, String, String,
      String, String, String, String, String, Double, Timestamp, String)]
    val df = in.toDF().toDF(graft.operators.Xref.columns: _*)
    val q = Streams.ingestXrefResolved(df, "st15_xref")
      .option("checkpointLocation",
        checkpointDir("st15_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 0: two disjoint components (first write = full mapping)
      in.addData(pair("a1", "b1", "positive", 1),
        pair("x1", "y1", "positive", 1))
      q.processAllAvailable()
      assert(served() == Map("a1" -> "a1", "b1" -> "a1",
        "x1" -> "x1", "y1" -> "x1"))
      assert(served() == recomputed())
      // batch 1: a bridging positive merges them — the DELTA path
      // (x-component relabels to a1) plus a fresh pair
      in.addData(pair("b1", "x1", "positive", 2),
        pair("m1", "n1", "positive", 2))
      q.processAllAvailable()
      assert(served() == recomputed() &&
        served()("y1") == "a1" && served()("m1") == "m1")
      // batch 2: retraction — the bridge re-judged negative splits the
      // component; exact trigger, full-recompute fallback
      in.addData(pair("b1", "x1", "negative", 3))
      q.processAllAvailable()
      assert(served() == recomputed() &&
        served()("y1") == "x1" && served()("b1") == "a1")
    } finally q.stop()
    // replay idempotency: re-applying the merge batch directly appends
    // an EMPTY delta — served mapping and row count stay put
    val rowsBefore = spark.table("st15_xref_mapping").count()
    val mapBefore = served()
    val replay = Seq(pair("m1", "n1", "positive", 2))
      .toDF(graft.operators.Xref.columns: _*)
    XrefStore.applyBatch(spark, replay, "st15_xref", ver = 99L)
    assert(served() == mapBefore)
    assert(spark.table("st15_xref_mapping").count() == rowsBefore)
    // OPTIMIZE: compact drops superseded delta versions, serves the
    // same map, and leaves exactly one row per entity
    XrefStore.compactMapping(spark, "st15_xref")
    assert(served() == mapBefore)
    assert(spark.table("st15_xref_mapping").count() == mapBefore.size)
  }

  test("st3 sessionization closes a session after the gap and emits once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Streams.Evt]
    val q = Streams.sessionize(in.toDS(), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("st3_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Streams.Evt(7L, ts(1), 1.0), Streams.Evt(7L, ts(3), 2.0))
      q.processAllAvailable()
      // event far past the gap + watermark closes user 7's session
      in.addData(Streams.Evt(8L, ts(40), 1.0))
      q.processAllAvailable()
      in.addData(Streams.Evt(8L, ts(59), 1.0))
      q.processAllAvailable()
      val sessions = spark.table("st3_out").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      assert(sessions.contains((7L, 2L, 3.0)))
    } finally q.stop()
  }

  test("st10 streaming contamination guard matches batch t5, keeps no state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val probes = Seq(
      (1L, "quick brown fox jumps over the lazy dog end", "s"))
      .toDF("doc_id", "text", "source")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docRows = Seq(
      (10L, t0, "the quick brown fox jumps over the lazy dog today"),
      (11L, t0, "completely different content sharing no phrases at all"),
      (12L, t0, "quick brown fox jumps over the lazy dog end of story"))
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.Streams
      .contaminationStream(in.toDF().toDF("doc_id", "ts", "text"), probes,
        n = 5)
      .writeStream.format("memory").queryName("st10_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(docRows: _*)
      q.processAllAvailable()
      val got = spark.table("st10_out").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // parity with the batch operator on identical inputs
      val batch = graft.operators.TextAnalysis.contamination(
        docRows.toDF("doc_id", "ts", "text"), probes, n = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.contains(10L) && got.contains(12L) && !got.contains(11L))
      // stateless by design: no state-store operators in the query.
      // recentProgress must be non-empty — Option(...).forall would be
      // vacuously true when no progress event fired yet (r8 review)
      assert(q.recentProgress.nonEmpty, "no progress event recorded")
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "contamination guard must not register state operators")
    } finally q.stop()
  }

  test("st11 streaming preprocess: gates + watermarked dedup + batch parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val keepA = "the cat is on a mat and it is fine"
    val keepB = "the dog is in a house and that is good"
    val firstBatch = Seq(
      (1L, "en", keepA, t0),
      // no stopwords in any language → 'und' → gated out statelessly
      (3L, "en", "zzz qqq xxx", t0),
      (4L, "en", keepB, t0))
    // same content as doc 1 modulo whitespace → same normalized hash →
    // dropped; arrives in a LATER micro-batch so "first arrival wins"
    // is deterministic (within one batch, which duplicate the state
    // store sees first is not an ordering contract)
    val dupRow = (2L, "en", "the  cat is on a mat  and it is fine ", t0)
    val docRows = firstBatch :+ dupRow
    val in = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.Streams.preprocessStream(
      in.toDF().toDF("doc_id", "lang", "text", "ts"),
      rates = Map.empty, defaultRate = 1.0)
      .writeStream.format("memory").queryName("st11_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(firstBatch: _*)
      q.processAllAvailable()
      in.addData(dupRow)
      q.processAllAvailable()
      val got = spark.table("st11_out").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getDouble(3),
          r.getLong(5)))).toMap
      // first arrival of each surviving content survives; gate victims
      // and the later duplicate never reach the sink
      assert(got.keySet == Set(1L, 4L), s"got $got")
      // the stateless front is the SAME code as batch p1 — signals must
      // match the batch run on identical input (no sampling both sides)
      val batch = graft.operators.Preprocess.select(
        docRows.toDF("doc_id", "lang", "text", "ts"),
        rates = Map.empty, defaultRate = 1.0)
        .collect().map(r => r.getLong(0) -> ((r.getString(2),
          r.getDouble(3), r.getLong(5)))).toMap
      assert(got == batch, s"stream $got != batch $batch")
      // dedup is the ONLY stateful operator in the query
      assert(q.recentProgress.exists(_.stateOperators.nonEmpty))
    } finally q.stop()
  }

  test("st12 streaming near-dup guard flags band collisions, horizon evicts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textC = "completely different content with no shared phrases at all"
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"),
      watermark = "10 minutes", horizonMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("st12_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def hits(): Seq[(Long, Long)] = spark.table("st12_out").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    try {
      in.addData((1L, t(10, 1), textA))
      q.processAllAvailable()
      assert(hits().isEmpty, "first claimant emits nothing")
      // identical text shares EVERY band key; unrelated text shares none
      in.addData((2L, t(10, 2), textA), (3L, t(10, 2), textC))
      q.processAllAvailable()
      val h1 = hits()
      assert(h1.nonEmpty && h1.forall(_ == ((2L, 1L))),
        s"near-twin must flag against the first claimant only: $h1")
      assert(h1.size == 6, s"identical docs collide in all 6 bands: $h1")
      // push the watermark past the horizon (band keys from 10:0x
      // expire at last_seen + 10 min ≪ the new watermark 11:20); the
      // pusher doc shares no shingles with anything before it
      in.addData((4L, t(11, 30),
        "unrelated watermark pusher sentence nothing shingles here match"))
      q.processAllAvailable()
      // a revived key must NOT resurrect its stale claimant: doc 5
      // claims fresh (no hits), doc 6 then flags against doc 5
      in.addData((5L, t(11, 31), textA))
      q.processAllAvailable()
      assert(hits().size == h1.size, "expired keys cannot emit hits")
      in.addData((6L, t(11, 32), textA))
      q.processAllAvailable()
      val h2 = hits().diff(h1)
      assert(h2.nonEmpty && h2.forall(_ == ((6L, 5L))),
        s"post-eviction hits must point at the fresh claimant: $h2")
    } finally q.stop()
  }

  test("st13 streaming doc ingest double-inserts docs + band index per batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st13_docs", "st13_docs_bands")) TableSwap.dropManaged(spark, t)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.ingestDocs(
      in.toDF().toDF("doc_id", "text", "source"), "st13_docs")
      .option("checkpointLocation",
        checkpointDir("st13_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, textA, "s"),
        (2L, "completely different content with no shared phrases", "s"))
      q.processAllAvailable()
      in.addData((3L, "a third unrelated document about other things", "s"))
      q.processAllAvailable()
      assert(spark.table("st13_docs").count() == 3)
      // index rows landed for BOTH batches (6 bands per doc at 12/2)
      assert(spark.table("st13_docs_bands").count() == 3L * 6)
      // the store is immediately probe-able: a near-twin of streamed
      // doc 1 flags against it
      val cands = graft.sources.DocStore.nearDupCandidates(
        spark, "st13_docs", Seq((10L, textA, "s"))
          .toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands == Set((1L, 10L)))
    } finally q.stop()
  }

  test("st13b cadence compaction: mid-stream compact collapses replays, store stays readable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st13b_docs", "st13b_docs_bands"))
      TableSwap.dropManaged(spark, t)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content with no shared phrases here"
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.ingestDocs(
      in.toDF().toDF("doc_id", "text", "source"), "st13b_docs",
      compactEvery = 2)
      .option("checkpointLocation",
        checkpointDir("st13b_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 0: two docs; no cadence tick yet → raw keeps both rows
      in.addData((1L, textA, "s"), (2L, textB, "s"))
      q.processAllAvailable()
      assert(spark.table("st13b_docs").count() == 2)
      // batch 1: doc 1 re-delivered; cadence fires (batchId 1), bloat
      // detected → compact collapses the replay in BOTH tables
      in.addData((1L, textA, "s"))
      q.processAllAvailable()
      // the compact ran in the stream's CLONED session: this observer
      // session cached the pre-compact file list above, so it refreshes
      // before re-reading (the documented cross-session contract)
      spark.catalog.refreshTable("st13b_docs")
      spark.catalog.refreshTable("st13b_docs_bands")
      assert(spark.table("st13b_docs").count() == 2,
        "compact must collapse the re-delivered row")
      assert(spark.table("st13b_docs_bands").count() == 2L * 6,
        "compact must rebuild the index from the deduped docs")
      // the just-compacted store answers probes immediately
      val cands = graft.sources.DocStore.nearDupCandidates(
        spark, "st13b_docs",
        Seq((10L, textA, "s")).toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands == Set((1L, 10L)))
      // batch 2: appends keep working after the swap; batch 3 cadence
      // tick with NO bloat must not rewrite (count stays consistent)
      in.addData((3L, "a third unrelated document about other things", "s"))
      q.processAllAvailable()
      in.addData((4L, "a fourth document entirely distinct from all", "s"))
      q.processAllAvailable()
      // cross-session again: the clone's post-compact appends added
      // files this session's refreshed-then-recached list missed
      spark.catalog.refreshTable("st13b_docs")
      assert(spark.table("st13b_docs").count() == 4)
      assert(graft.sources.DocStore.readFinal(spark, "st13b_docs")
        .count() == 4)
    } finally q.stop()
  }

  // r11: the cadence gate itself must be cheap — r10 measured TWO
  // corpus-sized jobs per tick (raw + FINAL-dedup counts) even when
  // idle. The extracted decision function proves, by counting thunk
  // invocations, exactly which jobs each tier schedules.
  test("cadence bloat gate: idle tick schedules nothing, bounded tick skips the dedup count") {
    var raws = 0; var fins = 0; var compacts = 0
    def raw(n: Long): () => Long = () => { raws += 1; n }
    def fin(n: Long): () => Long = () => { fins += 1; n }
    val comp = () => { compacts += 1; () }
    // idle: nothing appended since the last check → ZERO jobs
    assert(Streams.bloatGate(0L, raw(100), fin(100), comp) == 0L)
    assert((raws, fins, compacts) == ((0, 0, 0)))
    // bounded: 5 appended rows hold at most 5 dead rows — under 10% of
    // a 100-row store, so only the metadata-only raw count runs
    assert(Streams.bloatGate(5L, raw(100), fin(95), comp, 0.1) == 5L)
    assert((raws, fins, compacts) == ((1, 0, 0)))
    // bound trips: the exact count confirms real bloat → rewrite
    assert(Streams.bloatGate(50L, raw(100), fin(60), comp, 0.1) == 0L)
    assert((raws, fins, compacts) == ((2, 1, 1)))
    // bound trips but the exact count refutes (appends were genuinely
    // new rows): no rewrite; the now-KNOWN bloat carries forward
    assert(Streams.bloatGate(50L, raw(100), fin(98), comp, 0.1) == 2L)
    assert((raws, fins, compacts) == ((3, 2, 1)))
    // unknown (fresh start/restart): always confirm exactly — the
    // previous run may have died holding bloat the counter never saw
    assert(Streams.bloatGate(-1L, raw(100), fin(100), comp) == 0L)
    assert((raws, fins, compacts) == ((4, 3, 1)))
    // default ratio 0.0: ANY confirmed bloat rewrites — the pre-r11
    // semantics the st13b/st14 end-to-end cases pin
    assert(Streams.bloatGate(1L, raw(100), fin(99), comp) == 0L)
    assert((raws, fins, compacts) == ((5, 4, 2)))
    // r12: pending takedown tombstones (out-of-band pop) compact
    // UNCONDITIONALLY, even on an idle tick — and without ANY
    // corpus-sized count job (the dels signal is a catalog check)
    assert(Streams.bloatGate(0L, raw(100), fin(100), comp,
      delsPending = () => true) == 0L)
    assert((raws, fins, compacts) == ((5, 4, 3)))
    // no pops pending: the idle tier stays free (the r10/r11 pin)
    assert(Streams.bloatGate(0L, raw(100), fin(100), comp,
      delsPending = () => false) == 0L)
    assert((raws, fins, compacts) == ((5, 4, 3)))
  }

  // r12: the out-of-band compaction coordinator — deterministic
  // latch-driven proof that (a) scheduling never blocks the caller on
  // the heavy build, (b) at most one stage is in flight, (c) finish
  // runs only on the writer thread once the stage is published, and
  // (d) a failed build is dropped and retried, never finished.
  test("async compactor: non-blocking schedule, single flight, failure drops the stage") {
    val buildGate = new java.util.concurrent.CountDownLatch(1)
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    var finished = List.empty[Int]
    val c = new Streams.AsyncCompactor[Int](
      () => { buildGate.await(); built.incrementAndGet() },
      s => finished ::= s)
    assert(c.schedule(), "idle compactor must accept the stage")
    // the heavy build is STILL RUNNING (gated) — the caller returned
    assert(c.inFlight)
    assert(!c.schedule(), "a second schedule while in flight must no-op")
    assert(!c.maybeFinish(), "no finish before the stage is published")
    buildGate.countDown()
    // wait for publication (bounded)
    val deadline = System.nanoTime() + 5e9.toLong
    while (c.inFlight && System.nanoTime() < deadline) Thread.sleep(10)
    assert(!c.inFlight, "build must complete once ungated")
    assert(!c.schedule(), "an unfinished ready stage must block re-schedule")
    assert(c.maybeFinish(), "published stage must finish on demand")
    assert(finished == List(1))
    assert(!c.maybeFinish(), "finish must consume the stage")
    // failure path: the build throws → stage dropped, retry allowed
    val failing = new Streams.AsyncCompactor[Int](
      () => sys.error("disk full"), s => finished ::= s)
    assert(failing.schedule())
    val dl2 = System.nanoTime() + 5e9.toLong
    while (failing.inFlight && System.nanoTime() < dl2) Thread.sleep(10)
    assert(!failing.maybeFinish(), "a failed build must never finish")
    assert(failing.schedule(), "a failed build must allow a retry")
  }

  test("st13c async cadence compaction: rewrite off the critical path, replays collapse, reads stay live") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st13c_docs", "st13c_docs_bands"))
      TableSwap.dropManaged(spark, t)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content with no shared phrases here"
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.ingestDocs(
      in.toDF().toDF("doc_id", "text", "source"), "st13c_docs",
      compactEvery = 2, asyncCompact = true)
      .option("checkpointLocation",
        checkpointDir("st13c_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, textA, "s"), (2L, textB, "s"))
      q.processAllAvailable()
      // batch 1: replay doc 1; the cadence tick LAUNCHES the stage
      // build and returns — the rewrite is not on this batch's path
      in.addData((1L, textA, "s"))
      q.processAllAvailable()
      // reads stay live while (or after) the background build runs
      spark.catalog.refreshTable("st13c_docs")
      assert(graft.sources.DocStore.readFinal(spark, "st13c_docs")
        .count() == 2)
      // batch 2 arrives DURING/AFTER the build: its append is the
      // delta the finish must catch up; a later batch runs the finish
      in.addData((3L, "a third document that arrives mid rewrite", "s"))
      q.processAllAvailable()
      // wait (bounded) for the background stage to publish, then one
      // more batch to drive the finish
      val deadline = System.nanoTime() + 30e9.toLong
      var compacted = false
      var tick = 0L
      while (!compacted && System.nanoTime() < deadline) {
        tick += 1
        in.addData((100L + tick,
          s"fresh ticking document number $tick to drive the stream", "s"))
        q.processAllAvailable()
        spark.catalog.refreshTable("st13c_docs")
        // compacted ⇔ the replayed raw row is physically gone
        compacted = spark.table("st13c_docs").count() ==
          graft.sources.DocStore.readFinal(spark, "st13c_docs").count()
        if (!compacted) Thread.sleep(100)
      }
      assert(compacted, "the async compact must land within the bound")
      spark.catalog.refreshTable("st13c_docs")
      spark.catalog.refreshTable("st13c_docs_bands")
      val ids = graft.sources.DocStore.readFinal(spark, "st13c_docs")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L) && ids.contains(2L) && ids.contains(3L),
        s"mid-rewrite appends must survive the swap: $ids")
      // the band index covers every surviving doc (delta included)
      val bandIds = spark.table("st13c_docs_bands")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(bandIds),
        s"index must cover the swapped corpus: $bandIds vs $ids")
      // and the store still serves probes
      val cands = graft.sources.DocStore.nearDupCandidates(
        spark, "st13c_docs",
        Seq((10L, textA, "s")).toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands == Set((1L, 10L)))
    } finally q.stop()
  }

  // r12: st13c's contract on the VECTOR store, whose inline rewrite was
  // heavier still (FINAL dedup + the full _codes re-encode). The
  // cadence tick only launches the staged build; appends land against
  // the live tables throughout; a later micro-batch runs the
  // append-bounded finish, after which PQ serving covers the swapped
  // corpus including every mid-rewrite row.
  test("st14c async vector compaction: codes re-encode off the critical path, serving stays live") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    for (t <- Seq("st14c_vecs", "st14c_vecs_cents", "st14c_vecs_pq",
        "st14c_vecs_codes"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sf, "embeddings")
    val storedSide = emb.filter(col("vec_id") % 10 =!= 0)
    val batchSide = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    graft.sources.VecStore.init(spark, "st14c_vecs", storedSide,
      col("label"), buckets = 4)
    graft.sources.VecStore.trainPqCodebook(spark, "st14c_vecs")
    val n0 = graft.sources.VecStore.readFinal(spark, "st14c_vecs").count()
    val rows = batchSide.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val half = rows.length / 2
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestVecs(
      in.toDF().toDF("vec_id", "embedding"), "st14c_vecs",
      compactEvery = 2, asyncCompact = true)
      .option("checkpointLocation",
        checkpointDir("st14c_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(rows.take(half).toIndexedSeq: _*)
      q.processAllAvailable()
      // batch 1: replay half the rows — cadence fires, bloat confirmed,
      // the STAGE launches in the background and this batch returns
      in.addData(rows.take(half).toIndexedSeq: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("st14c_vecs")
      assert(graft.sources.VecStore.readFinal(spark, "st14c_vecs")
        .count() == n0 + half)
      // rows that arrive during/after the build are the delta the
      // finish must catch up — including their code rows
      in.addData(rows.drop(half).toIndexedSeq: _*)
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      var compacted = false
      var tick = 0L
      while (!compacted && System.nanoTime() < deadline) {
        tick += 1
        // fresh ids (the st13c discipline): once the swap lands and the
        // finishing batch's own append is the only post-swap file, raw
        // and FINAL counts meet exactly
        in.addData((1000000L + tick, rows.head._2))
        q.processAllAvailable()
        spark.catalog.refreshTable("st14c_vecs")
        compacted = spark.table("st14c_vecs").count() ==
          graft.sources.VecStore.readFinal(spark, "st14c_vecs").count()
        if (!compacted) Thread.sleep(100)
      }
      assert(compacted, "the async vector compact must land within the bound")
      spark.catalog.refreshTable("st14c_vecs")
      spark.catalog.refreshTable("st14c_vecs_codes")
      val fin = graft.sources.VecStore.readFinal(spark, "st14c_vecs")
        .count()
      val ids = graft.sources.VecStore.readFinal(spark, "st14c_vecs")
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(rows.forall(r => ids.contains(r._1)),
        "mid-rewrite vector appends must survive the swap")
      // the codes cache covers the ENTIRE swapped corpus (stage rows
      // re-encoded from the staged table, delta rows by the catch-up)
      assert(graft.sources.VecStore.codes(spark, "st14c_vecs")
        .select(col("vec_id")).distinct().count() == fin,
        "codes must cover every surviving vector after the async swap")
      // and PQ serving finds a mid-rewrite row
      val probe = batchSide.orderBy(col("vec_id").desc).limit(3)
        .localCheckpoint()
      assert(graft.sources.VecStore.ivfPqTopK(spark, "st14c_vecs",
        probe, k = 3, nProbe = 2).count() > 0)
    } finally q.stop()
  }

  test("st14 streaming vector ingest: store probe-able, cadence compact collapses replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sq = spark.sqlContext
    for (t <- Seq("st14_vecs", "st14_vecs_cents"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sf, "embeddings")
    val storedSide = emb.filter(col("vec_id") % 10 =!= 0)
    val batchSide = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    // init (quantizer + initial corpus) is a batch operation; the
    // STREAM is the ongoing ingest
    graft.sources.VecStore.init(spark, "st14_vecs", storedSide,
      col("label"), buckets = 4)
    val n0 = graft.sources.VecStore.readFinal(spark, "st14_vecs").count()
    val rows = batchSide.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestVecs(
      in.toDF().toDF("vec_id", "embedding"), "st14_vecs",
      compactEvery = 2)
      .option("checkpointLocation",
        checkpointDir("st14_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("st14_vecs")
      assert(graft.sources.VecStore.readFinal(spark, "st14_vecs")
        .count() == n0 + rows.length)
      // batch 1: the SAME rows re-delivered; cadence fires, bloat
      // detected, compact collapses the replay
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("st14_vecs")
      assert(graft.sources.VecStore.read(spark, "st14_vecs")
        .count() == n0 + rows.length,
        "cadence compact must collapse the replayed batch")
      // the streamed-into store answers BOTH read faces, identically
      // to the oracle-gated DataFrame twin / operator form
      val probeQ = batchSide.limit(5).localCheckpoint()
      val viaStore = graft.sources.VecStore.nearDupVerdicts(
        spark, "st14_vecs",
        probeQ.select(col("vec_id") + lit(100000), col("embedding"))
          .toDF("vec_id", "embedding"), minCos = 0.35)
        .collect().map(_.toString).sorted.toSeq
      assert(viaStore.nonEmpty)
      val top = graft.sources.VecStore.ivfTopK(spark, "st14_vecs",
        probeQ, k = 3, nProbe = 2)
      assert(top.count() > 0)
    } finally q.stop()
  }

  test("st14 streaming ingest into a TREE store lands rows in their descent lists") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    for (t <- Seq("st14t_vecs", "st14t_vecs_cents", "st14t_vecs_tops",
        "st14t_vecs_leafmap"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sf, "embeddings")
    val storedSide = emb.filter(col("vec_id") % 10 =!= 0)
    val batchSide = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    // the stream is tree-blind: ingestVecs -> append -> withAssignment
    // switches on the persisted _tops, same plug point as batch
    graft.sources.VecStore.init(spark, "st14t_vecs", storedSide,
      col("label"), buckets = 4, treeTopCount = 3)
    val rows = batchSide.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestVecs(
      in.toDF().toDF("vec_id", "embedding"), "st14t_vecs",
      compactEvery = 0)
      .option("checkpointLocation",
        checkpointDir("st14t_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("st14t_vecs")
      // every streamed row physically sits in its TREE-descent list
      val cents = graft.sources.VecStore.centroids(spark, "st14t_vecs")
      val (tops, leafMap) = graft.operators.Similarity
        .treeQuantizer(cents, 3)
      val topCn = graft.operators.Similarity.centNorms(
        tops.select(col("top_id").as("list_id"), col("centroid")))
      val leaves = graft.operators.Similarity.treeLeaves(cents, leafMap)
      val expected = graft.operators.Similarity.treeDescend(
        batchSide.select(col("vec_id").as("id"), col("embedding")),
        "id", topCn, leaves)
        .select(col("id"), col("list_id")).collect()
        .map(r => r.getLong(0) -> r.get(1).toString).toMap
      val streamedIds = rows.map(_._1).toSet
      val landed = graft.sources.VecStore.read(spark, "st14t_vecs")
        .select(col("vec_id"), col("list_id")).collect()
        .filter(r => streamedIds.contains(r.getLong(0)))
      assert(landed.nonEmpty)
      landed.foreach(r =>
        assert(expected(r.getLong(0)) == r.get(1).toString,
          s"streamed vec ${r.getLong(0)} landed off its descent list"))
      // and the tree faces serve the streamed rows
      val top = graft.sources.VecStore.ivfTopK(spark, "st14t_vecs",
        storedSide.select(col("vec_id"), col("embedding")).limit(5),
        k = 3, nProbe = 2, nProbeTop = 2)
      assert(top.count() > 0)
    } finally q.stop()
  }

  test("st16 streaming takedown: popped doc hidden next batch, sticky across replay, cadence cleans") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st16_docs", "st16_docs_bands", "st16_docs_dels"))
      TableSwap.dropManaged(spark, t)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content with no shared phrases here"
    val textC = "a third unrelated document about entirely other things"
    graft.sources.DocStore.append(
      Seq((1L, textA, "s"), (2L, textB, "s"), (3L, textC, "s"))
        .toDF("doc_id", "text", "source"), "st16_docs")
    // the stream's clone appends/drops the `_dels` tombstone table;
    // this OBSERVER session must refresh its cached relation before
    // each read (the documented cross-session contract — without it a
    // re-created table resolves to the dropped files)
    def refreshDels(): Unit =
      if (spark.catalog.tableExists("st16_docs_dels"))
        spark.catalog.refreshTable("st16_docs_dels")
    // precondition: a near-twin of doc 1 flags against the live store
    def twinHits(): Set[(Long, Long)] = {
      refreshDels()
      graft.sources.DocStore.nearDupCandidates(
        spark, "st16_docs",
        Seq((10L, textA, "s")).toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(twinHits() == Set((1L, 10L)))
    val in = MemoryStream[Long]
    val q = Streams.takedownDocs(
      in.toDF().toDF("doc_id"), "st16_docs", compactEvery = 2)
      .option("checkpointLocation",
        checkpointDir("st16_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 0: the pop request lands; no cadence tick yet — the doc
      // disappears from EVERY serving face at the next read, while the
      // batch itself wrote only the request-bounded tombstone
      in.addData(1L)
      q.processAllAvailable()
      assert(twinHits().isEmpty,
        "popped doc must vanish from nearDupCandidates pre-compact")
      assert(graft.sources.DocStore.readFinal(spark, "st16_docs")
        .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
      spark.catalog.refreshTable("st16_docs")
      assert(spark.table("st16_docs").count() == 3,
        "pre-compact takedown must not rewrite the corpus")
      // batch 1: the SAME request replayed (at-least-once delivery);
      // cadence fires → compact physically drops the doc + its index
      // rows and retires the tombstones
      in.addData(1L)
      q.processAllAvailable()
      spark.catalog.refreshTable("st16_docs")
      spark.catalog.refreshTable("st16_docs_bands")
      assert(spark.table("st16_docs").count() == 2,
        "cadence compact must physically drop the popped doc")
      assert(spark.table("st16_docs_bands").count() == 2L * 6,
        "compact must drop the popped doc's band index rows")
      assert(!spark.catalog.tableExists("st16_docs_dels"),
        "compact must retire the tombstones")
      assert(twinHits().isEmpty && graft.sources.DocStore
        .readFinal(spark, "st16_docs").count() == 2)
    } finally q.stop()
    // crash/replay order: the tombstone append is the batch's ONLY
    // write — a fresh stream (new checkpoint = full redelivery)
    // re-popping an already-cleaned id just lands a new tombstone;
    // every face stays consistent and doc 2 keeps serving
    val in2 = MemoryStream[Long]
    val q2 = Streams.takedownDocs(
      in2.toDF().toDF("doc_id"), "st16_docs")
      .option("checkpointLocation",
        checkpointDir("st16_ckpt2"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in2.addData(1L)
      q2.processAllAvailable()
      refreshDels()
      assert(graft.sources.DocStore.readFinal(spark, "st16_docs")
        .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
      val hitB = graft.sources.DocStore.nearDupCandidates(
        spark, "st16_docs",
        Seq((11L, textB, "s")).toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hitB == Set((2L, 11L)), "surviving docs must keep serving")
    } finally q2.stop()
  }

  // r13 — the source-grain face: one forgotten SOURCE retires its
  // sketch telemetry and its xref judgement + mapping rows, completing
  // the delete story across every store.
  test("st16b source takedown: popped source leaves estimates and, post-compact, the mapping") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    for (t <- Seq("st16b_sk", "st16b_sk_dels", "st16b_xref",
        "st16b_xref_reverse", "st16b_xref_mapping", "st16b_xref_dsdels",
        "st16b_tk", "st16b_tk_dels"))
      TableSwap.dropManaged(spark, t)
    val k = 64
    graft.sources.SketchStore.applyBatch(spark, Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "keep"),
      (2L, "eta theta iota kappa lambda mu", "gone"))
      .toDF("doc_id", "text", "source"), "st16b_sk", k, batchId = 0L)
    graft.sources.TopKStore.applyBatch(spark, Seq(
      (1L, "alpha alpha beta", "keep"),
      (2L, "eta eta theta", "gone"))
      .toDF("doc_id", "text", "source"), "st16b_tk", 64, batchId = 0L)
    def topkSources(): Set[String] = {
      Seq("st16b_tk_dels").filter(spark.catalog.tableExists)
        .foreach(spark.catalog.refreshTable)
      graft.sources.TopKStore.readTopK(spark, "st16b_tk", 3, 64)
        .collect().map(_.getString(0)).toSet
    }
    val mkd = (lds: String, l: String, rds: String, r: String,
        j: String, ts: Long) =>
      (lds, l, "Person", "de", s"cap-$l", rds, r, "Person", "fr",
        s"cap-$r", j, 0.5, ts, "graft")
    graft.sources.XrefStore.applyBatch(spark, Seq(
      mkd("gone", "a", "dsB", "b", "positive", 1L),
      mkd("dsB", "b", "dsB", "c", "positive", 1L))
      .toDF(graft.operators.Xref.columns: _*), "st16b_xref", ver = 1L,
      buckets = 4)
    def refresh(): Unit = Seq("st16b_sk_dels", "st16b_xref_dsdels")
      .filter(spark.catalog.tableExists).foreach { t =>
        spark.catalog.refreshTable(t) }
    def estSources(): Set[String] = {
      refresh()
      graft.sources.SketchStore.readEstimates(spark, "st16b_sk", k)
        .collect().map(_.getString(0)).toSet
    }
    def mappingIds(): Set[String] = {
      refresh()
      spark.catalog.refreshTable("st16b_xref_mapping")
      graft.sources.XrefStore.readMapping(spark, "st16b_xref")
        .collect().map(_.getString(0)).toSet
    }
    assert(estSources() == Set("keep", "gone"))
    assert(mappingIds() == Set("a", "b", "c"))
    assert(topkSources() == Set("keep", "gone"))
    val in = MemoryStream[String]
    val q = Streams.takedownSources(
      in.toDF().toDF("source"),
      sketchTable = Some("st16b_sk"), xrefTable = Some("st16b_xref"),
      topkTable = Some("st16b_tk"),
      k = k, topkCapacity = 64, compactEvery = 2)
      .option("checkpointLocation",
        checkpointDir("st16b_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 0: tombstones only — estimates and judgement faces
      // exclude immediately; the derived mapping is documented-stale
      in.addData("gone")
      q.processAllAvailable()
      assert(estSources() == Set("keep"),
        "popped source must vanish from readEstimates pre-compact")
      assert(topkSources() == Set("keep"),
        "popped source must vanish from readTopK pre-compact")
      refresh()
      assert(graft.sources.XrefStore.readLatest(spark, "st16b_xref")
        .collect().map(_.getAs[String]("left_id")).toSet == Set("b"))
      // batch 1: replay; cadence fires → physical cleanup, tombstones
      // retired, mapping rebuilt by the full resolver — the popped
      // dataset's entity is gone from readMapping
      in.addData("gone")
      q.processAllAvailable()
      spark.catalog.refreshTable("st16b_sk")
      spark.catalog.refreshTable("st16b_xref")
      assert(spark.table("st16b_sk").count() == 1,
        "compact must drop the popped source's sketch rows")
      assert(spark.table("st16b_xref").count() == 1,
        "compact must drop the dataset-touching judgement rows")
      refresh()
      spark.catalog.refreshTable("st16b_tk")
      assert(spark.table("st16b_tk")
        .select(org.apache.spark.sql.functions.col("source")).distinct()
        .collect().map(_.getString(0)).toSet == Set("keep"),
        "compact must drop the popped source's summary rows")
      assert(!spark.catalog.tableExists("st16b_sk_dels") &&
        !spark.catalog.tableExists("st16b_xref_dsdels") &&
        !spark.catalog.tableExists("st16b_tk_dels"),
        "compact must retire all three tombstone tables")
      assert(estSources() == Set("keep"))
      assert(topkSources() == Set("keep"))
      assert(mappingIds() == Set("b", "c"),
        "popped dataset's entity must vanish from the mapping post-compact")
    } finally q.stop()
  }

  test("st16 vector takedown: popped vector leaves every ANN face, sticky across replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sq = spark.sqlContext
    for (t <- Seq("st16_vecs", "st16_vecs_cents", "st16_vecs_pq",
        "st16_vecs_codes", "st16_vecs_dels"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sf, "embeddings")
    graft.sources.VecStore.init(spark, "st16_vecs", emb,
      col("label"), buckets = 4)
    graft.sources.VecStore.trainPqCodebook(spark, "st16_vecs")
    // the victim: vec 7; the probe is its exact copy under a fresh id,
    // so at minCos ≥ 0.999 the ONLY possible verdict is dup_of = 7
    val victim = 7L
    val probe = emb.filter(col("vec_id") === victim)
      .select((col("vec_id") + lit(100000)).as("vec_id"),
        col("embedding")).localCheckpoint()
    def faces(): (Set[Long], Set[Long], Boolean) = {
      // cross-session refresh of the clone-written tombstone table
      if (spark.catalog.tableExists("st16_vecs_dels"))
        spark.catalog.refreshTable("st16_vecs_dels")
      (
      graft.sources.VecStore.ivfTopK(spark, "st16_vecs", probe,
        k = 3, nProbe = 2).collect().map(_.getLong(1)).toSet,
      graft.sources.VecStore.ivfPqTopK(spark, "st16_vecs", probe,
        k = 3, nProbe = 2).collect().map(_.getLong(1)).toSet,
      graft.sources.VecStore.nearDupVerdicts(spark, "st16_vecs", probe,
        minCos = 0.999).collect().exists(r =>
        r.getBoolean(2) && r.getLong(3) == victim))
    }
    val (ivf0, pq0, dup0) = faces()
    assert(ivf0.contains(victim) && pq0.contains(victim) && dup0,
      s"precondition: victim must serve on every face ($ivf0 / $pq0)")
    val in = MemoryStream[Long]
    val q = Streams.takedownVecs(
      in.toDF().toDF("vec_id"), "st16_vecs")
      .option("checkpointLocation",
        checkpointDir("st16v_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(victim)
      q.processAllAvailable()
      val (ivf1, pq1, dup1) = faces()
      assert(!ivf1.contains(victim), "popped vector must leave ivfTopK")
      assert(!pq1.contains(victim),
        "popped vector must leave ivfPqTopK (codes scan excluded too)")
      assert(!dup1, "popped vector must stop matching nearDupVerdicts")
      // replayed request: duplicate tombstone ids are harmless
      in.addData(victim)
      q.processAllAvailable()
      val (ivf2, pq2, dup2) = faces()
      assert(!ivf2.contains(victim) && !pq2.contains(victim) && !dup2)
    } finally q.stop()
  }

  // r12: the drift-gated PQ retrain. The trigger (pqQuantizationError,
  // PqDriftProbe's 22–30% new-mass separation) existed with nothing
  // invoking it; st14's gate now checks the BATCH residual against the
  // first check's baseline. Jitter batches (in-distribution) must
  // never retrain; an injected new-mass batch must retrain EXACTLY
  // once via the generation-tolerant staged swap, and serving answers
  // at every step.
  test("st14b drift-gated retrain: jitter never trips, new mass trips exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sq = spark.sqlContext
    for (t <- Seq("st14b_vecs", "st14b_vecs_cents", "st14b_vecs_pq",
        "st14b_vecs_codes", "st14b_vecs_dels"))
      TableSwap.dropManaged(spark, t)
    val emb = Tables.load(spark, sf, "embeddings")
    val storedSide = emb.filter(col("vec_id") % 10 =!= 0)
    graft.sources.VecStore.init(spark, "st14b_vecs", storedSide,
      col("label"), buckets = 4)
    graft.sources.VecStore.trainPqCodebook(spark, "st14b_vecs")
    def hashes(): Seq[String] = {
      // the retrain swaps _pq/_codes in the stream's CLONED session —
      // this observer refreshes before reading (the documented
      // cross-session contract)
      spark.catalog.refreshTable("st14b_vecs_pq")
      spark.catalog.refreshTable("st14b_vecs_codes")
      spark.table("st14b_vecs_pq")
        .select(col("cb_hash")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
    }
    val h0 = hashes()
    assert(h0.length == 1)
    // in-distribution rows (jitter) and NEW-MASS rows: one-hot
    // directions with alternating position+sign — mass where the
    // corpus clusters have none, so no codeword aligns (measured
    // 1.41× the baseline residual, vs 0.99× for a second jitter
    // batch — both deterministic for the seeded corpus)
    val jitter1 = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 900000).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val drift = (0 until 50).map { i =>
      (950000L + i,
        (0 until 64).map(j =>
          if (j == i % 64) (if (i % 2 == 0) 1.0f else -1.0f)
          else 0.0f).toSeq)
    }
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestVecs(
      in.toDF().toDF("vec_id", "embedding"), "st14b_vecs",
      retrainEvery = 1)
      .option("checkpointLocation",
        checkpointDir("st14b_ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 0 calibrates the baseline; batch 1 is jitter at the
      // same residual — neither may retrain
      in.addData(jitter1.take(40).toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(jitter1.drop(40).take(40).toIndexedSeq: _*)
      q.processAllAvailable()
      assert(hashes() == h0, "in-distribution batches must never retrain")
      // batch 2: new mass — residual far past 1.5× baseline → exactly
      // one retrain through the staged swap (single NEW generation)
      in.addData(drift.toIndexedSeq: _*)
      q.processAllAvailable()
      val h1 = hashes()
      assert(h1.length == 1 && h1 != h0,
        s"new mass must retrain exactly once: $h0 -> $h1")
      // serving answers right through and after the swap, and the
      // codes carry the new generation uniformly
      assert(graft.sources.VecStore.codes(spark, "st14b_vecs")
        .select(col("cb_hash")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq == h1)
      val probeQ = storedSide.limit(3)
        .select((col("vec_id") + lit(980000)).as("vec_id"),
          col("embedding")).localCheckpoint()
      assert(graft.sources.VecStore.ivfPqTopK(spark, "st14b_vecs",
        probeQ, k = 3, nProbe = 2).count() > 0)
      // batch 3: the gate RECALIBRATES under the new codebook — more
      // of the same mass must not retrain again
      in.addData(drift.map { case (id, v) => (id + 1000, v) }
        .toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(drift.map { case (id, v) => (id + 2000, v) }
        .toIndexedSeq: _*)
      q.processAllAvailable()
      assert(hashes() == h1,
        "recalibrated gate must not re-trip on the same distribution")
    } finally q.stop()
  }

  test("st12 hits on the sf corpus are always batch-d3 candidate pairs") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // same kernel, same corpus, one micro-batch: the stream links each
    // later doc to its bucket's FIRST claimant only (a guard, not a
    // pair miner), so its pair set must be a SUBSET of batch d3's full
    // bucket expansion — and non-trivial on this corpus
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), ts(1), r.getString(1)))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("st12_parity_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamPairs = spark.table("st12_parity_out").collect()
        .map(r => (r.getLong(0) min r.getLong(3),
          r.getLong(0) max r.getLong(3))).toSet
      val batchPairs = graft.operators.Dedup.minhashLsh(
        Tables.load(spark, sf, "documents")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs.nonEmpty, "sf corpus must produce stream hits")
      assert(streamPairs.subsetOf(batchPairs),
        s"stream-only pairs: ${streamPairs -- batchPairs}")
    } finally q.stop()
  }

  test("st17 streaming attribution: half-open range matches, then " +
    "watermark evicts old windows and drops late points") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def tm(min: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime +
        min * 60000L)
    // points: (event_id, ts, user_id, event_type); windows open 30 min
    val pts = MemoryStream[(Long, Timestamp, Long, String)]
    val wins = MemoryStream[(Long, Timestamp, Long, String)]
    val q = Streams.attributionJoin(
      pts.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      wins.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      windowSpan = "30 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("st17_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def collected(): Set[(Long, Long, Long)] =
      spark.table("st17_out").select("event_id", "imp_id", "gap_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    try {
      wins.addData((100L, tm(0), 1L, "view"), (101L, tm(20), 1L, "view"),
        (102L, tm(0), 2L, "view"))
      pts.addData(
        (1L, tm(0), 1L, "click"),     // at-start: window 100 only
        (2L, tm(25), 1L, "click"),    // inside both 100 and 101
        (3L, tm(30), 1L, "purchase"), // end-exclusive for 100; in 101
        (4L, tm(10), 2L, "click"),    // other user's window
        (5L, tm(10), 3L, "click"))    // no window for user 3
      q.processAllAvailable()
      val want = Set(
        (1L, 100L, 0L), (2L, 100L, 25L * 60000000L),
        (2L, 101L, 5L * 60000000L), (3L, 101L, 10L * 60000000L),
        (4L, 102L, 10L * 60000000L))
      assert(collected() == want)
      // push both watermarks far past window 100's end (+5 min delay),
      // so its buffered row is evictable state
      wins.addData((900L, tm(600), 9L, "view"))
      pts.addData((900L, tm(600), 8L, "click"))
      q.processAllAvailable()
      // a late point inside the long-gone window drops at the watermark
      pts.addData((6L, tm(5), 1L, "click"))
      q.processAllAvailable()
      assert(collected() == want,
        "late point beyond the watermark must not attribute")
    } finally q.stop()
  }

  test("st19 streaming funnel: cross-batch chains, watermark drop, batch-q26 parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val in = MemoryStream[(Long, Timestamp, Int)]
    val q = Streams.funnelStream(
      in.toDF().toDF("user_id", "ts", "step"),
      nSteps = 3, windowMs = 30 * 60 * 1000L, watermark = "5 minutes")
      .writeStream.format("memory").queryName("st19_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    def latest(): Map[Long, Long] =
      spark.table("st19_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    try {
      // batch 1: user 1 starts a chain (view@0, click@10); user 2 only clicks
      in.addData((1L, t(0), 1), (1L, t(10), 2), (2L, t(5), 2))
      q.processAllAvailable()
      assert(latest() == Map(1L -> 2L, 2L -> 0L), latest().toString)
      // batch 2: the purchase lands 25 min after the view — INSIDE the
      // 30-min window, chain completes ACROSS batches
      in.addData((1L, t(25), 3))
      q.processAllAvailable()
      assert(latest()(1L) == 3L, "cross-batch chain must complete")
      // user 3: view@21 + purchase@34 with no click — depth stays 1;
      // a complete fresh chain in the next batch lifts it to 3
      in.addData((3L, t(21), 1), (3L, t(34), 3))
      q.processAllAvailable()
      assert(latest()(3L) == 1L)
      in.addData((3L, t(40), 1), (3L, t(54), 2), (3L, t(56), 3))
      q.processAllAvailable()
      assert(latest()(3L) == 3L, "the fresh complete chain must win")
      // depth equals batch q26's aggregate over the same live events
      val depth26 = Seq((3L, t(40).getTime * 1000, 1),
        (3L, t(54).getTime * 1000, 2), (3L, t(56).getTime * 1000, 3),
        (3L, t(21).getTime * 1000, 1), (3L, t(34).getTime * 1000, 3))
        .toDF("user_id", "ts_us", "step")
        .groupBy(org.apache.spark.sql.functions.col("user_id"))
        .agg(graft.functions.WindowFunnelAggregate
          .windowFunnel(org.apache.spark.sql.functions.col("ts_us"),
            org.apache.spark.sql.functions.col("step"), 3,
            30L * 60 * 1000 * 1000)
          .as("d"))
        .collect()(0).getLong(1)
      assert(depth26 == 3L, "batch twin parity")
      // advance the watermark far ahead, then send a LATE view for
      // user 2 — dropped at the watermark, depth must not move
      in.addData((9L, t(59), 1))
      q.processAllAvailable()
      in.addData((2L, t(6), 1))
      q.processAllAvailable()
      assert(latest()(2L) == 0L, "late event beyond the watermark must drop")
    } finally q.stop()
  }

  test("st18 streaming cardinality: served == batch recompute, replay-proof, compact-invariant") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val table = "st18_sketch"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    TableSwap.dropManaged(spark, table)
    val k = 1024
    // deterministic doc maker: source s contributes distinct shingles
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def doc(id: Long, s: String, words: Seq[String]): (Long, String, String) = {
      val d = (id, words.mkString(" "), s); seen += d; d
    }
    def servedNow(): Map[String, Long] =
      graft.sources.SketchStore.readEstimates(spark, table, k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def exactNow(): Map[String, Long] = {
      import org.apache.spark.sql.functions._
      seen.toSeq.toDF("doc_id", "text", "source")
        .select(col("source"), explode(
          graft.operators.Dedup.shinglesN(col("text"),
            graft.sources.SketchStore.shingleN)).as("g"))
        .groupBy("source").agg(countDistinct("g").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.sketchCardinality(
      in.toDF().toDF("doc_id", "text", "source"), table, k, compactEvery = 3)
      .option("checkpointLocation",
        checkpointDir("st18_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      // batch 0: two sources; under k → estimates are EXACT
      in.addData(
        doc(1L, "a", (0 until 30).map(i => s"w$i")),
        doc(2L, "b", (0 until 20).map(i => s"x$i")))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after batch 0")
      // batch 1: overlap within a (re-sent shingles must not double-
      // count — the set-union property) + fresh content for b
      in.addData(
        doc(3L, "a", (0 until 30).map(i => s"w$i")), // all re-sent
        doc(4L, "b", (15 until 40).map(i => s"x$i")))
      q.processAllAvailable()
      val afterB1 = servedNow()
      assert(afterB1 == exactNow(), "after batch 1")
      assert(afterB1("a") == 28L, "re-sent content must not move a") // 30 words → 28 shingles
      // batch 2 trips compactEvery=3 → one folded row per source,
      // estimates invariant
      in.addData(doc(5L, "c", (0 until 12).map(i => s"y$i")))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after compacting batch 2")
      assert(spark.table(table).groupBy("source").count()
        .collect().forall(_.getLong(1) == 1L), "compact folds to 1 row/source")
      // replay shape: re-apply batch 1's rows OUT of band (what a
      // checkpoint-restart redelivery does) — the union absorbs them
      graft.sources.SketchStore.applyBatch(spark,
        Seq(seen(2), seen(3)).toDF("doc_id", "text", "source"),
        table, k, batchId = 1L)
      assert(servedNow() == exactNow(), "replayed batch must be a no-op")
      // manual compact is idempotent
      graft.sources.SketchStore.compact(spark, table, k)
      graft.sources.SketchStore.compact(spark, table, k)
      assert(servedNow() == exactNow(), "after double compact")
    } finally q.stop()
    // a zero-row sketch table (created by an empty first batch) must
    // treat compact as a no-op, not NPE on the null max(ver)
    val empty = "st18_empty_sketch"
    spark.sql(s"DROP TABLE IF EXISTS $empty")
    TableSwap.dropManaged(spark, empty)
    graft.sources.SketchStore.applyBatch(spark,
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
      empty, k, batchId = 0L)
    graft.sources.SketchStore.compact(spark, empty, k)
    assert(graft.sources.SketchStore.readEstimates(spark, empty, k).isEmpty)
  }

  test("st21 streaming sequence count: cross-batch chains, finalized vs provisional, late drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // kernel twin on the driver: the batch q27b fold over everything
    // delivered (ms grain — the kernel is unit-agnostic)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    def batchCount(uid: Long, onlyBelow: Long = Long.MaxValue): Long =
      graft.functions.SequenceAggregate.scan(
        delivered.filter(e => e._1 == uid && e._2 < onlyBelow)
          .map(e => (e._2, e._3)).toSeq, 3, 1000L)._2
    val in = MemoryStream[(Long, java.sql.Timestamp, Int)]
    val q = Streams.sequenceCountStream(
        in.toDF().toDF("user_id", "ts", "step"),
        nSteps = 3, gapMs = 1000L, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("st21_out")
      .option("checkpointLocation",
        checkpointDir("st21_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // finalized is monotone by construction and provisional only grows
    // in this in-order scenario → max per user is the latest serve
    def served(): Map[Long, (Long, Long)] =
      spark.table("st21_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (u, rs) =>
          u -> ((rs.map(_._2._1).max, rs.map(_._2._2).max)) }
    def send(rows: (Long, Long, Int)*): Unit = {
      delivered ++= rows
      in.addData(rows.map(r => (r._1, ts(r._2), r._3)))
      q.processAllAvailable()
    }
    try {
      // a chain SPLIT ACROSS batches: view in batch 0 …
      send((1L, 1000L, 1), (2L, 1000L, 1))
      assert(served()(1L)._2 == batchCount(1L),
        "in-order provisional must equal the batch fold")
      // … click + purchase arrive two batches later: completes
      send((1L, 1500L, 2))
      send((1L, 2200L, 3))
      assert(served()(1L)._2 == 1L, s"cross-batch chain: ${served()(1L)}")
      assert(served()(1L)._2 == batchCount(1L))
      // back-to-back second chain for user 1 → count 2 (greedy
      // reset); user 2 opens view+click that the watermark finalizes
      send((1L, 10000L, 1), (1L, 10500L, 2), (1L, 11000L, 3),
        (2L, 10000L, 1), (2L, 10600L, 2))
      assert(served()(1L)._2 == 2L && served()(1L)._2 == batchCount(1L))
      // finalized count: everything below the watermark folds into
      // nSteps-1 longs — the fold sees the PREVIOUS batch's watermark
      // (wm lags one batch), so advance it with a fresh view that
      // completes nothing; finalized then equals the batch fold over
      // the < 11000 slice
      send((1L, 12000L, 1))
      assert(served()(1L)._1 == batchCount(1L, onlyBelow = 11000L),
        s"finalized face: ${served()(1L)._1}")
      // LATE event beyond the watermark (wm = 11000): user 2's
      // purchase@10900 WOULD complete the finalized view→click chain
      // (gap 300 ≤ 1000) if accepted — it must drop (at-most-once)
      in.addData(Seq((2L, ts(10900L), 3)))
      q.processAllAvailable()
      assert(served()(2L)._2 == 0L,
        "late event beyond the watermark must not move the count")
      // fresh in-horizon activity for user 2 still counts, and the
      // cumulative count survives the idle gap (state never removed)
      send((2L, 20000L, 1), (2L, 20400L, 2), (2L, 20900L, 3))
      assert(served()(2L)._2 == 1L)
      assert(served()(1L)._2 == 2L, "user 1 unchanged by user 2 traffic")
      // the timeout FLUSH: user 1 has had no data since 12000, but
      // once the watermark passes its flush tick the pending buffer
      // folds without new data and the finalized face catches up to 2
      send((2L, 30000L, 1))
      assert(served()(1L) == ((2L, 2L)),
        s"timeout flush must finalize the idle user: ${served()(1L)}")
    } finally q.stop()
  }

  test("st24 streaming max-concurrent: finalized == batch sweep, half-open ties, late drop, flush") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val W = 10000L // window ms
    // batch q34 twin on the driver over everything delivered
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def batchPeak(uid: Long, onlyBelow: Long = Long.MaxValue): (Long, Long) = {
      val deltas = delivered.filter(_._1 == uid).map(_._2)
        .flatMap(s => Seq((s, 1L), (s + W, -1L)))
        .filter(_._1 < onlyBelow)
        .sorted
      var conc = 0L; var peak = 0L; var at = 0L
      deltas.foreach { case (t, d) =>
        conc += d; if (conc > peak) { peak = conc; at = t }
      }
      (peak, at)
    }
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streams.maxConcurrentStream(
        in.toDF().toDF("user_id", "ts"), windowMs = W,
        watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("st24_out")
      .option("checkpointLocation",
        checkpointDir("st24_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def served(): Map[Long, (Long, Long, Long)] =
      spark.table("st24_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(4))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 }
    def send(rows: (Long, Long)*): Unit = {
      delivered ++= rows
      in.addData(rows.map(r => (r._1, ts(r._2))))
      q.processAllAvailable()
    }
    try {
      // two overlapping windows → provisional peak 2 immediately
      send((1L, 1000L), (1L, 3000L))
      assert(served()(1L)._3 == 2L, s"provisional: ${served()(1L)}")
      assert(served()(1L)._3 == batchPeak(1L)._1)
      // a third overlapping window (wm lags one batch: wm = 3000, so
      // 4000 is in-horizon; finalized has started moving on 1000)
      send((1L, 4000L))
      assert(served()(1L)._3 == 3L && served()(1L)._3 == batchPeak(1L)._1,
        s"provisional after 3rd window: ${served()(1L)}")
      // HALF-OPEN tie: user 2's second window starts exactly at the
      // first's end — never concurrent
      send((2L, 5000L), (2L, 15000L))
      assert(served()(2L)._3 == 1L, s"half-open tie: ${served()(2L)}")
      // advance the watermark far past every obligation: finalized
      // face must equal the batch sweep over the full slice
      send((3L, 100000L))
      send((3L, 200000L)) // wm → 100000, flushes user 1's and 2's ends
      val (p1, at1) = batchPeak(1L, onlyBelow = 100000L)
      assert(served()(1L)._1 == p1 && served()(1L)._2 == at1,
        s"finalized: ${served()(1L)} != ($p1, $at1)")
      assert(served()(2L)._1 == 1L)
      // LATE event beyond the watermark: would lift user 2's tie pair
      // to concurrency 2 if accepted — must drop (at-most-once)
      in.addData(Seq((2L, ts(10500L))))
      q.processAllAvailable()
      assert(served()(2L)._1 == 1L && served()(2L)._3 == 1L,
        "late event must not move either face")
      // fresh activity still counts and peaks accumulate correctly
      send((2L, 300000L), (2L, 301000L), (2L, 302000L))
      send((3L, 400000L)) // advance wm past user 2's new cluster
      send((3L, 500000L))
      assert(served()(2L)._1 == 3L,
        s"new cluster must finalize to 3: ${served()(2L)}")
    } finally q.stop()
  }

  test("st20 streaming heavy hitters: served == exact recompute, replay-proof, compact-invariant") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val table = "st20_topk"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_dels")
    TableSwap.dropManaged(spark, table)
    TableSwap.dropManaged(spark, s"${table}_dels")
    val cap = 64 // far above the test vocabulary → exact regime
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def doc(id: Long, s: String, text: String): (Long, String, String) = {
      val d = (id, text, s); seen += d; d
    }
    def servedNow(): Map[String, Seq[(String, Long)]] =
      graft.sources.TopKStore.readTopK(spark, table, 3, cap).collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getString(0), x.getLong(1))).toSeq).toMap
    def exactNow(): Map[String, Seq[(String, Long)]] =
      seen.toSeq
        .flatMap { case (_, text, s) => // Dedup.words twin on the driver
          text.toLowerCase.split("\\s+").filter(_.nonEmpty).map(w => (s, w)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .map { case ((s, w), n) => (s, w, n) }
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))
          .sortBy { case (w, n) => (-n, w) }.take(3).toSeq).toMap
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.topkTelemetry(
      in.toDF().toDF("doc_id", "text", "source"), table, cap,
      compactEvery = 3)
      .option("checkpointLocation",
        checkpointDir("st20_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        doc(1L, "a", "red red red blue blue green"),
        doc(2L, "b", "cat dog dog"))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after batch 0")
      in.addData(doc(3L, "a", "blue blue blue green yellow"))
      q.processAllAvailable()
      val afterB1 = servedNow()
      assert(afterB1 == exactNow(), "after batch 1")
      assert(afterB1("a") == Seq(("blue", 5L), ("red", 3L), ("green", 2L)))
      // batch 2 trips compactEvery=3 → one folded row per source,
      // served top-k invariant
      in.addData(doc(4L, "c", "solo solo"))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after compacting batch 2")
      assert(spark.table(table).groupBy("source").count()
        .collect().forall(_.getLong(1) == 1L), "compact folds to 1 row/source")
      // the honest st18 CONTRAST: counters are not a set, so a
      // replayed batch would double-count if the STORE didn't gate it.
      // Replay batch 1 out of band (a checkpoint-restart redelivery):
      // its ver sits behind the folded row's horizon → no-op
      graft.sources.TopKStore.applyBatch(spark,
        Seq(seen(2)).toDF("doc_id", "text", "source"),
        table, cap, batchId = 1L)
      assert(servedNow() == exactNow(),
        "post-compact replayed batch must be a no-op")
      // a replayed FRESH batch (not yet folded) dedups per (source, ver)
      in.addData(doc(5L, "b", "dog dog bird"))
      q.processAllAvailable()
      graft.sources.TopKStore.applyBatch(spark,
        Seq(seen(4)).toDF("doc_id", "text", "source").repartition(4),
        table, cap, batchId = 3L)
      assert(servedNow() == exactNow(),
        "pre-compact replayed batch must be a no-op")
      // manual compact is idempotent
      graft.sources.TopKStore.compact(spark, table, cap)
      graft.sources.TopKStore.compact(spark, table, cap)
      assert(servedNow() == exactNow(), "after double compact")
    } finally q.stop()
  }

  test("st23 streaming audience telemetry: served == exact recompute, replay-immune, pop scrubs") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val table = "st23_bm"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_dels")
    TableSwap.dropManaged(spark, table)
    TableSwap.dropManaged(spark, s"${table}_dels")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def e(t: String, u: Long): (String, Long) = { seen += ((t, u)); (t, u) }
    val popped = scala.collection.mutable.Set.empty[Long]
    def servedNow(): Map[String, Long] =
      graft.sources.BitmapStore.readAudience(spark, table).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def exactNow(): Map[String, Long] =
      // a type whose whole audience was popped serves 0, not absence —
      // the type row exists, its audience is the empty set
      seen.map(_._1).distinct.map { t =>
        t -> seen.toSeq.filter(r => r._1 == t && !popped(r._2))
          .map(_._2).distinct.size.toLong
      }.toMap
    val in = MemoryStream[(String, Long)]
    val q = Streams.audienceTelemetry(
      in.toDF().toDF("event_type", "user_id"), table, compactEvery = 3)
      .option("checkpointLocation",
        checkpointDir("st23_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      in.addData(e("view", 1L), e("view", 2L), e("click", 2L))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after batch 0")
      in.addData(e("view", 3L), e("click", 2L))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after batch 1")
      // replayed batch out of band: union absorbs it structurally —
      // no version dedup needed pre-compact
      graft.sources.BitmapStore.applyBatch(spark,
        Seq(("view", 3L), ("click", 2L)).toDF("event_type", "user_id"),
        table, batchId = 1L)
      assert(servedNow() == exactNow(), "replayed batch moved bits")
      // user-grain pop masks immediately
      graft.sources.BitmapStore.popUsers(spark, table,
        Seq(2L).toDF("user_id"))
      popped += 2L
      assert(servedNow() == exactNow(), "pop not reflected")
      // batch 2 trips compactEvery=3: physical scrub + fold
      in.addData(e("buy", 7L))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after compacting batch 2")
      assert(!spark.catalog.tableExists(s"${table}_dels"),
        "compact must retire the tombstones")
      // post-compact replay of the folded batch: version horizon keeps
      // the scrubbed user out even with tombstones retired
      graft.sources.BitmapStore.applyBatch(spark,
        Seq(("view", 3L), ("click", 2L)).toDF("event_type", "user_id"),
        table, batchId = 1L)
      assert(servedNow() == exactNow(),
        "post-compact replay resurrected a scrubbed user")
    } finally q.stop()
  }

  test("st22 streaming quantile telemetry: served == exact recompute, replay-proof, compact-invariant") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val table = "st22_kll"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_dels")
    TableSwap.dropManaged(spark, table)
    TableSwap.dropManaged(spark, s"${table}_dels")
    val k = 64 // far above the test doc counts → exact regime
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def doc(id: Long, s: String, text: String): (Long, String, String) = {
      val d = (id, text, s); seen += d; d
    }
    def servedNow(): Map[String, (Long, Long)] =
      graft.sources.QuantileStore
        .readQuantiles(spark, table, k, Seq(0.5, 1.0)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def exactNow(): Map[String, (Long, Long)] =
      seen.toSeq
        .map { case (_, text, s) => // Dedup.words twin on the driver
          (s, text.toLowerCase.split("\\s+").count(_.nonEmpty).toLong) }
        .groupBy(_._1).view.mapValues { rows =>
          val vs = rows.map(_._2).sorted
          def sel(p: Double): Long =
            vs(math.max(1, math.ceil(p * vs.size).toInt) - 1)
          (sel(0.5), sel(1.0))
        }.toMap
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.quantileTelemetry(
      in.toDF().toDF("doc_id", "text", "source"), table, k,
      compactEvery = 3)
      .option("checkpointLocation",
        checkpointDir("st22_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        doc(1L, "a", "red red red blue blue green"),
        doc(2L, "b", "cat dog dog"))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after batch 0")
      in.addData(doc(3L, "a", "blue blue blue green yellow"),
        doc(4L, "a", "one"))
      q.processAllAvailable()
      val afterB1 = servedNow()
      assert(afterB1 == exactNow(), "after batch 1")
      // a's doc lengths {6, 5, 1}: p50 = 2nd smallest = 5, p100 = 6
      assert(afterB1("a") == ((5L, 6L)), afterB1.toString)
      // batch 2 trips compactEvery=3 → one folded row per source,
      // served quantiles invariant
      in.addData(doc(5L, "c", "solo solo"))
      q.processAllAvailable()
      assert(servedNow() == exactNow(), "after compacting batch 2")
      assert(spark.table(table).groupBy("source").count()
        .collect().forall(_.getLong(1) == 1L), "compact folds to 1 row/source")
      // a KLL summary is a weighted multiset — a replayed batch would
      // double-weight if the STORE didn't gate it. Replay batch 1 out
      // of band: its ver sits behind the folded horizon → no-op
      graft.sources.QuantileStore.applyBatch(spark,
        Seq(seen(2), seen(3)).toDF("doc_id", "text", "source"),
        table, k, batchId = 1L)
      assert(servedNow() == exactNow(),
        "post-compact replayed batch must be a no-op")
      // a replayed FRESH batch (not yet folded) dedups per (source, ver)
      in.addData(doc(6L, "b", "dog dog bird"))
      q.processAllAvailable()
      graft.sources.QuantileStore.applyBatch(spark,
        Seq(seen(5)).toDF("doc_id", "text", "source").repartition(4),
        table, k, batchId = 3L)
      assert(servedNow() == exactNow(),
        "pre-compact replayed batch must be a no-op")
      // manual compact is idempotent
      graft.sources.QuantileStore.compact(spark, table, k)
      graft.sources.QuantileStore.compact(spark, table, k)
      assert(servedNow() == exactNow(), "after double compact")
    } finally q.stop()
  }
  // st25: the GraphStore maintained from an edge STREAM — refresh
  // ticks fire on the batch cadence, serves answer from the last tick
  // with visible staleness, a takedown masks mid-stream. The batch
  // contracts (served == recompute, structural replay immunity,
  // physical scrub) are gated in SourcesSpec "graph store"; this spec
  // gates the STREAM grain.
  test("st25 streaming graph telemetry: refresh ticks, staleness between ticks, pop masks mid-stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.sources.GraphStore
    val table = "st25_graph"
    Seq(table, s"${table}_dels", s"${table}_ranks",
      s"${table}_communities", s"${table}_cohesion", s"${table}_kcore",
      s"${table}_support")
      .foreach(TableSwap.dropManaged(spark, _))
    def served(): Map[String, Long] =
      GraphStore.ranks(spark, table).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def recompute(): Map[String, Long] =
      graft.operators.PageRank.ranks(GraphStore.edges(spark, table))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(String, String)]
    val q = Streams.graphTelemetry(in.toDF().toDF("src", "dst"), table,
      refreshEvery = 2, minSupport = 1L, kcoreK = 2L)
      .option("checkpointLocation",
        checkpointDir("st25_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 0: appends only (refresh fires on odd batch ids)
      in.addData(("a", "b"), ("b", "c"), ("a", "c"), ("c", "x"))
      q.processAllAvailable()
      assert(!spark.catalog.tableExists(s"${table}_ranks"),
        "no refresh should have fired yet")
      val filesBatch0 = spark.table(table).inputFiles.toSet
      // batch 1: refresh tick — served analytics appear and match the
      // batch recompute on everything ingested so far
      in.addData(("x", "y"), ("y", "z"), ("x", "z"))
      q.processAllAvailable()
      val s1 = served()
      assert(s1 == recompute(), "tick serve != recompute")
      val comm = GraphStore.communities(spark, table).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(comm == Map("a" -> "a", "b" -> "a", "c" -> "a",
        "x" -> "x", "y" -> "x", "z" -> "x"), s"communities: $comm")
      // the r15 fourth face: k-core served from the same tick
      def coreServed(): Map[String, Long] =
        GraphStore.kcore(spark, table).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(coreServed() == graft.operators.KCore.membership(
          GraphStore.edges(spark, table), k = 2L, rounds = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        "tick kcore serve != peel recompute")
      assert(coreServed().nonEmpty)
      // the r15 decoupling: an append-only tick computes its summaries
      // without rewriting the edge table — batch 0's files survive
      assert(filesBatch0.subsetOf(spark.table(table).inputFiles.toSet),
        "append-only tick must not rewrite the edge table")
      // batch 2: appends land in the edge set immediately but the
      // serves hold their as-of snapshot; staleness reports the lag
      in.addData(("z", "w"))
      q.processAllAvailable()
      assert(served() == s1, "serve moved between ticks")
      val (asOf, cur) = GraphStore.staleness(spark, table)
      assert(asOf < cur, s"staleness must show the lag: $asOf / $cur")
      // a takedown masks every serve IMMEDIATELY, mid-stream, without
      // waiting for the tick
      GraphStore.pop(spark, table, Seq("a").toDF("id"))
      assert(!served().contains("a"), "popped node still served")
      // batch 3: the next tick refreshes — scrubbed analytics, caught
      // up staleness, tombstones retired
      in.addData(("w", "v"))
      q.processAllAvailable()
      val s3 = served()
      assert(s3 == recompute(), "post-tick serve != recompute")
      assert(!s3.contains("a") && s3.contains("w") && s3.contains("v"))
      assert(!spark.catalog.tableExists(s"${table}_dels"),
        "tick must retire the tombstones")
      val (asOf3, cur3) = GraphStore.staleness(spark, table)
      assert(asOf3 == cur3, "tick must catch the staleness up")
    } finally q.stop()
  }
}
