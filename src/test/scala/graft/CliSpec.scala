package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableSwap

/** End-to-end CLI spec: init → ingest (statements + fpx) → stats →
  * query → optimize, mirroring the reference writer's double insert
  * (store.py:54-60) and engine.optimize's full flag.
  */
class CliSpec extends AnyFunSuite {
  import SparkTestSession._

  private def clean(tables: String*): Unit =
    tables.foreach(TableSwap.dropManaged(spark, _))

  test("cli --version prints the library version (cli.py:14-20)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Cli.run(spark, List("--version")) }
    assert(out.toString.trim == Cli.Version)
  }

  test("cli: ingest, stats, query, optimize round-trip") {
    import spark.implicits._
    clean("cli_spec", "cli_spec_fpx", "cli_spec_compacted",
      "cli_spec_fpx_compacted", "cli_spec_xref", "cli_spec_xref_reverse")
    val entities = Seq(
      ("p1", "Person", Seq("ds"), Map("name" -> Seq("Ann"), "amount" -> Seq("500"))),
      ("p2", "Person", Seq("ds"), Map("name" -> Seq("Bob"), "amount" -> Seq("100"))))
      .toDF("id", "schema", "datasets", "properties")
    graft.sources.FtmJson.writeEntities(entities, "/tmp/graft_cli_in")

    Cli.run(spark, List("init", "cli_spec"))
    Cli.run(spark, List("ingest", "cli_spec", "/tmp/graft_cli_in"))
    // duplicate delivery at a later timestamp — optimize must collapse it
    Cli.run(spark, List("ingest", "cli_spec", "/tmp/graft_cli_in",
      "2026-02-01 00:00:00"))
    assert(spark.table("cli_spec").count() == 8)

    // the writer maintained the fpx table: fingerprint rows for each
    // entity's name across the 4 algorithms, doubled by re-delivery
    val fpx = spark.table("cli_spec_fpx")
    assert(fpx.filter(col("algorithm") === "fingerprint")
      .select("value").distinct().collect().map(_.getString(0)).toSet ==
      Set("ann", "bob"))
    assert(fpx.select("algorithm").distinct().count() >= 3)

    // non-full optimize compacts the fpx table only
    val rawFpx = fpx.count()
    Cli.run(spark, List("optimize", "cli_spec"))
    assert(spark.table("cli_spec").count() == 8)
    assert(spark.table("cli_spec_fpx").count() == rawFpx / 2)

    Cli.run(spark, List("optimize", "cli_spec", "--full"))
    assert(spark.table("cli_spec").count() == 4)

    val q = graft.operators.EntityQuery(
      graft.sources.StatementStore.readFinal(spark, "cli_spec"))
      .dataset("ds").where("amount", "gte", "200").entities().collect()
    assert(q.map(_.getString(0)).toSeq == Seq("p1"))

    // xref: Ann and Bob share no blocks → 0 candidates, but the xref
    // tables exist and are empty (the workflow runs end to end);
    // soundex blocking pairs nothing here either
    Cli.run(spark, List("xref", "cli_spec"))
    assert(spark.catalog.tableExists("cli_spec_xref"))
    assert(spark.catalog.tableExists("cli_spec_xref_reverse"))

    // pop removes p2; p1 survives
    Cli.run(spark, List("pop", "cli_spec", "p2"))
    val after = graft.sources.StatementStore.readFinal(spark, "cli_spec")
    assert(after.filter(col("entity_id") === "p2").count() == 0)
    assert(after.filter(col("entity_id") === "p1").count() == 2)

    // --recreate drops the whole table family
    Cli.run(spark, List("init", "cli_spec", "--recreate"))
    assert(spark.table("cli_spec").count() == 0)
    assert(spark.table("cli_spec_fpx").count() == 0)
  }

  // time-range pruning rests on the footer type: Spark's default INT96
  // timestamps carry no usable row-group min/max, so a store the CLI
  // creates must write last_seen as INT64 TIMESTAMP(MICROS) with stats
  test("cli-created store writes last_seen as INT64 TIMESTAMP(MICROS) with min/max") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    clean("cli_ts", "cli_ts_fpx")
    val entities = Seq(("p1", "Person", Seq("ds"), Map("name" -> Seq("Ann"))))
      .toDF("id", "schema", "datasets", "properties")
    graft.sources.FtmJson.writeEntities(entities, "/tmp/graft_cli_ts_in")
    Cli.run(spark, List("init", "cli_ts"))
    Cli.run(spark, List("ingest", "cli_ts", "/tmp/graft_cli_ts_in",
      "2026-02-01 00:00:00"))
    val micros = java.time.Instant.parse("2026-02-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val files = spark.table("cli_ts").inputFiles.toSeq
    assert(files.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        val t = schema.getType(schema.getFieldIndex("last_seen"))
          .asPrimitiveType
        assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$f: $t")
        t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation =>
            assert(ts.getUnit == TimeUnit.MICROS, s"$f: $t")
          case other => fail(s"$f: last_seen annotated $other")
        }
        val blocks = footer.getBlocks.asScala
        assert(blocks.nonEmpty)
        blocks.foreach { b =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == "last_seen").get.getStatistics
          assert(st != null && st.hasNonNullValue, s"$f: no last_seen stats")
          assert(st.genericGetMin == micros && st.genericGetMax == micros,
            s"$f: last_seen min/max ${st.genericGetMin}/${st.genericGetMax}")
        }
      } finally reader.close()
    }
  }

  // r11: the resolver edit loop — judge folds into the stored mapping
  // incrementally, resolve serves canonical lookups from it
  test("cli judge/resolve: incremental fold, retraction, point lookup") {
    import spark.implicits._
    clean("cli_res", "cli_res_fpx", "cli_res_xref", "cli_res_xref_reverse",
      "cli_res_xref_mapping")
    val entities = Seq(
      ("e1", "Person", Seq("ds"), Map("name" -> Seq("Ann"))),
      ("e2", "Person", Seq("ds"), Map("name" -> Seq("Bob"))),
      ("e3", "Person", Seq("ds"), Map("name" -> Seq("Cay"))))
      .toDF("id", "schema", "datasets", "properties")
    graft.sources.FtmJson.writeEntities(entities, "/tmp/graft_cli_res_in")
    Cli.run(spark, List("init", "cli_res"))
    Cli.run(spark, List("ingest", "cli_res", "/tmp/graft_cli_res_in"))

    def mapping(): Map[String, String] = {
      spark.sql("REFRESH TABLE cli_res_xref_mapping")
      graft.sources.XrefStore.readMapping(spark, "cli_res_xref")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    // first judgement creates the mapping store
    Cli.run(spark, List("judge", "cli_res", "e1", "e2", "positive"))
    assert(mapping() == Map("e1" -> "e1", "e2" -> "e1"))
    // second folds in via the O(component) delta path
    Cli.run(spark, List("judge", "cli_res", "e2", "e3", "positive"))
    assert(mapping() == Map("e1" -> "e1", "e2" -> "e1", "e3" -> "e1"))
    // retraction splits — exact-trigger full recompute
    Cli.run(spark, List("judge", "cli_res", "e1", "e2", "negative"))
    assert(mapping() == Map("e2" -> "e2", "e3" -> "e2"))
    // resolve: point lookup from the stored mapping
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Cli.run(spark, List("resolve", "cli_res", "e3")) }
    assert(out.toString.trim == "e3\te2")
    // unknown pair is refused loudly
    intercept[IllegalArgumentException] {
      Cli.run(spark, List("judge", "cli_res", "e1", "zz", "positive"))
    }
    // r12: judge timestamps are STRICTLY monotone even when the wall
    // clock doesn't tick between judgements — a tie on the
    // ReplacingMerge version would let row_number pick an arbitrary
    // winner and silently lose a correction
    spark.sql("REFRESH TABLE cli_res_xref")
    val tss = spark.table("cli_res_xref")
      .filter(org.apache.spark.sql.functions.col("user") === "cli")
      .select("ts").collect().map(_.getLong(0)).sorted
    assert(tss.length == 3 && tss.distinct.length == 3,
      s"judge ts must be unique per edit: ${tss.mkString(",")}")
    // and the re-judged pair's FINAL state is the LAST edit
    val fin = graft.sources.XrefStore.readLatest(spark, "cli_res_xref")
      .filter(org.apache.spark.sql.functions.col("left_id") === "e1" &&
        org.apache.spark.sql.functions.col("right_id") === "e2")
      .select("judgement").collect().map(_.getString(0)).toSeq
    assert(fin == Seq("negative"), s"latest edit must win: $fin")
  }

  // r12: the automated compat repair. A synthesized legacy-layout
  // store (stale assignments + unstamped codebook/codes — the pre-r11
  // states SURVEY §7 documents manual repairs for) must migrate in one
  // pass, serve on every face afterwards, and a second migrate must be
  // a no-op.
  test("cli migrate repairs a legacy-layout VecStore; second run is a no-op") {
    import org.apache.spark.sql.SaveMode
    val names = Seq("mig_vecs", "mig_vecs_cents", "mig_vecs_pq",
      "mig_vecs_codes", "mig_vecs_dels")
    names.foreach(n => TableSwap.dropManaged(spark, n))
    val emb = Tables.load(spark, SparkTestSession.sf, "embeddings")
    graft.sources.VecStore.init(spark, "mig_vecs", emb,
      col("label"), buckets = 4)
    graft.sources.VecStore.trainPqCodebook(spark, "mig_vecs")
    // ---- synthesize the legacy layout ----
    // (a) stale assignments: shift a handful of vectors into the wrong
    // list — what a pre-4dp argmax left behind for boundary vectors
    val nLists = graft.sources.VecStore.centroids(spark, "mig_vecs").count()
    val perturbed = spark.table("mig_vecs")
      .withColumn("list_id",
        when(col("vec_id") < 5,
          (col("list_id") + lit(1)) % lit(nLists.toInt))
          .otherwise(col("list_id")))
      .localCheckpoint()
    TableSwap.dropManaged(spark, "mig_vecs")
    perturbed.write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy("list_id").bucketBy(4, "vec_id").sortBy("vec_id")
      .saveAsTable("mig_vecs")
    // (b) unstamped codebook + codes: drop the cb_hash columns — the
    // pre-stamp-scheme on-disk shape
    val legacyCb = spark.table("mig_vecs_pq").drop("cb_hash")
      .localCheckpoint()
    TableSwap.dropManaged(spark, "mig_vecs_pq")
    legacyCb.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable("mig_vecs_pq")
    val legacyCodes = spark.table("mig_vecs_codes").drop("cb_hash")
      .localCheckpoint()
    TableSwap.dropManaged(spark, "mig_vecs_codes")
    legacyCodes.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable("mig_vecs_codes")
    // the legacy store REFUSES PQ serving (the r11 guard) — migrate is
    // the automation of the error message's manual repair
    val probe = emb.filter(col("vec_id") === 3L)
      .select((col("vec_id") + lit(100000)).as("vec_id"), col("embedding"))
      .localCheckpoint()
    intercept[IllegalArgumentException] {
      graft.sources.VecStore.ivfPqTopK(spark, "mig_vecs", probe,
        k = 3, nProbe = 2).collect()
    }
    // ---- migrate ----
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Cli.run(spark, List("migrate", "mig_vecs")) }
    val report = out.toString
    assert(report.contains("reassigned corpus"),
      s"stale assignments must be detected+repaired: $report")
    assert(report.contains("retrained codebook"),
      s"unstamped _pq must be detected+repaired: $report")
    // every serving face answers on the repaired store
    assert(graft.sources.VecStore.ivfTopK(spark, "mig_vecs", probe,
      k = 3, nProbe = 2).count() > 0)
    assert(graft.sources.VecStore.ivfPqTopK(spark, "mig_vecs", probe,
      k = 3, nProbe = 2).count() > 0)
    val verdicts = graft.sources.VecStore.nearDupVerdicts(
      spark, "mig_vecs", probe, minCos = 0.999).collect()
    assert(verdicts.exists(r => r.getBoolean(2) && r.getLong(3) == 3L),
      "the repaired layout must find the exact-copy dup again")
    // codes re-stamped with the live codebook's hash, uniform
    val live = spark.table("mig_vecs_pq")
      .select(col("cb_hash")).head().getString(0)
    val stamps = spark.table("mig_vecs_codes")
      .select(col("cb_hash")).distinct().collect().map(_.getString(0))
    assert(stamps.toSeq == Seq(live))
    // ---- second migrate: nothing to do ----
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(out2) { Cli.run(spark, List("migrate", "mig_vecs")) }
    assert(out2.toString.contains("already current"),
      s"second migrate must be a no-op: ${out2.toString}")
  }

  // r12: the in-place tree upgrade through the operational face —
  // round-trip flat → tree → flat on a populated store, idempotent at
  // each end (the VecStoreSpec treeify test pins the parity invariants;
  // this pins the CLI wiring and its reporting)
  test("cli treeify/untreeify: in-place tree mode round-trip") {
    val names = Seq("tfy_vecs", "tfy_vecs_cents", "tfy_vecs_tops",
      "tfy_vecs_leafmap")
    names.foreach(n => TableSwap.dropManaged(spark, n))
    val emb = Tables.load(spark, SparkTestSession.sf, "embeddings")
    graft.sources.VecStore.init(spark, "tfy_vecs", emb,
      col("label"), buckets = 4)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Cli.run(spark, List("treeify", "tfy_vecs", "3"))
    }
    assert(out.toString.contains("trained tree quantizer"),
      s"treeify must report the upgrade: ${out.toString}")
    assert(spark.catalog.tableExists("tfy_vecs_tops") &&
      spark.catalog.tableExists("tfy_vecs_leafmap"))
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(out2) {
      Cli.run(spark, List("treeify", "tfy_vecs", "3"))
    }
    assert(out2.toString.contains("already a tree store"),
      s"second treeify must be a no-op: ${out2.toString}")
    // the upgraded store serves through the tree descent
    val probe = emb.limit(3)
      .select((col("vec_id") + lit(100000)).as("vec_id"),
        col("embedding"))
      .localCheckpoint()
    assert(graft.sources.VecStore.ivfTopK(spark, "tfy_vecs", probe,
      k = 3, nProbe = 2, nProbeTop = 2).count() > 0)
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withOut(out3) {
      Cli.run(spark, List("untreeify", "tfy_vecs"))
    }
    assert(out3.toString.contains("flat argmax"),
      s"untreeify must report the downgrade: ${out3.toString}")
    assert(!spark.catalog.tableExists("tfy_vecs_tops") &&
      !spark.catalog.tableExists("tfy_vecs_leafmap"))
    assert(graft.sources.VecStore.ivfTopK(spark, "tfy_vecs", probe,
      k = 3, nProbe = 2).count() > 0)
  }

  test("cli ingest mints the model's statement id: cross-path upsert dedups") {
    import spark.implicits._
    import graft.model.Statements
    import graft.model.Statements.PropSpec
    import graft.sources.StatementStore
    clean("cli_id_spec", "cli_id_spec_fpx")
    val entities = Seq(
      ("p1", "Person", Seq("ds"), Map("name" -> Seq("Ann"))))
      .toDF("id", "schema", "datasets", "properties")
    graft.sources.FtmJson.writeEntities(entities, "/tmp/graft_cli_id_in")
    Cli.run(spark, List("init", "cli_id_spec"))
    Cli.run(spark, List("ingest", "cli_id_spec", "/tmp/graft_cli_id_in"))
    // the same assertion re-written programmatically (unpivot path) at
    // a later version — the ReplacingMergeTree key includes the id, so
    // both write paths must mint the SAME id for FINAL to collapse them
    val again = Statements.unpivot(
      Seq(("p1", "Ann")).toDF("id", "name"),
      col("id"), schema = "Person", dataset = "ds",
      Seq(PropSpec("name", "name", col("name"))),
      lastSeen = to_timestamp(lit("2026-03-01 00:00:00")))
      .select("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "last_seen", "dataset")
    StatementStore.append(again, "cli_id_spec")
    assert(spark.table("cli_id_spec").count() == 2)
    val fin = StatementStore.readFinal(spark, "cli_id_spec")
    assert(fin.count() == 1, "cross-path duplicate keys must collapse")
    assert(fin.collect()(0).getAs[java.sql.Timestamp]("last_seen")
      .toString.startsWith("2026-03-01"))
  }

  test("cli traverse: k-hop over entity props of a CLI-ingested store") {
    import spark.implicits._
    clean("cli_trav", "cli_trav_fpx")
    // org ← person chain: o1 ← p1 ← (owns) — p2 shares the org; p3 is
    // a disconnected island
    val entities = Seq(
      ("p1", "Person", Seq("ds"),
        Map("name" -> Seq("Ann"), "parent" -> Seq("o1"))),
      ("p2", "Person", Seq("ds"),
        Map("name" -> Seq("Bob"), "parent" -> Seq("o1"))),
      ("c1", "Company", Seq("ds"),
        Map("name" -> Seq("Shell Co"), "owner" -> Seq("p1"))),
      ("p3", "Person", Seq("ds"), Map("name" -> Seq("Eve"))))
      .toDF("id", "schema", "datasets", "properties")
    graft.sources.FtmJson.writeEntities(entities, "/tmp/graft_cli_trav_in")
    Cli.run(spark, List("init", "cli_trav"))
    Cli.run(spark, List("ingest", "cli_trav", "/tmp/graft_cli_trav_in",
      "2026-01-01 00:00:00", "parent,owner"))
    def trav(seed: String, hops: Int): Map[String, Int] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        Cli.run(spark, List("traverse", "cli_trav", seed, hops.toString))
      }
      out.toString.linesIterator.map { l =>
        val Array(id, h) = l.split("\t"); id -> h.toInt
      }.toMap
    }
    // from c1: owner p1 (1), p1's org o1 (2), o1's other member p2 (3)
    assert(trav("c1", 3) ==
      Map("c1" -> 0, "p1" -> 1, "o1" -> 2, "p2" -> 3))
    // hop budget cuts the walk; the island never appears
    assert(trav("c1", 1) == Map("c1" -> 0, "p1" -> 1))
    assert(!trav("c1", 5).contains("p3"))
  }

  test("cli zorder: rewrites a parquet table with multi-column pruning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_cli_zorder").toString
    val rnd = new scala.util.Random(5)
    (1 to 20000).map(_ =>
      (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("x", "y").repartition(8)
      .write.mode("overwrite").parquet(s"$base/in")
    Cli.run(spark, List("zorder", s"$base/in", s"$base/out", "x,y", "16"))
    // rows survive
    val got = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = spark.read.parquet(s"$base/in")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want))
    // and the layout actually prunes: a corner box touches a strict
    // minority of row groups where the unsorted input touches all
    val box = Map("x" -> ((0L, 255L)), "y" -> ((0L, 255L)))
    val (hitIn, totIn) =
      graft.sources.ZOrderLayout.matchingRowGroups(s"$base/in", box)
    val (hitOut, totOut) =
      graft.sources.ZOrderLayout.matchingRowGroups(s"$base/out", box)
    assert(hitIn == totIn, s"unsorted input should span the box: $hitIn/$totIn")
    assert(hitOut * 4 <= totOut, s"z-order failed to prune: $hitOut/$totOut")
  }

  // The summary stores' operational face (r14, verdict item 8):
  // ingest → serve → pop → optimize end-to-end through the CLI for all
  // three r13 stores, asserting the serves are the exact expected
  // values and takedowns stick through compaction.
  test("cli telemetry: ingest-docs/-events, topk/quantiles/audience, pop, optimize") {
    import spark.implicits._
    clean("tel_topk", "tel_topk_dels", "tel_quantiles", "tel_quantiles_dels",
      "tel_audience", "tel_audience_dels")
    def cli(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) { Cli.run(spark, args.toList) }
      out.toString
    }
    // two sources: srcA dominated by "alpha", srcB by "beta"; batch 2
    // flips srcA's dominant term to "gamma" overall
    Seq(
      ("srcA", "alpha alpha alpha beta"),
      ("srcB", "beta beta beta beta gamma"))
      .toDF("source", "text")
      .write.mode("overwrite").parquet("/tmp/graft_cli_tel_b1")
    Seq(
      ("srcA", "gamma gamma gamma gamma gamma alpha alpha"),
      ("srcB", "beta"))
      .toDF("source", "text")
      .write.mode("overwrite").parquet("/tmp/graft_cli_tel_b2")
    cli("telemetry", "tel", "ingest-docs", "/tmp/graft_cli_tel_b1", "1")
    cli("telemetry", "tel", "ingest-docs", "/tmp/graft_cli_tel_b2", "2")
    // topk serves the MERGED truth (exact in the ≤ capacity regime):
    // srcA: gamma 5, alpha 5 (tie), beta 1 — top-1 is the
    // deterministic merge's pick among {alpha, gamma}
    val top1 = cli("telemetry", "tel", "topk", "1")
    assert(top1.linesIterator.exists(l => l.startsWith("srcA") &&
      (l.contains("alpha") || l.contains("gamma"))), s"topk:\n$top1")
    assert(top1.linesIterator.exists(l => l.startsWith("srcB") &&
      l.contains("beta")), s"topk:\n$top1")
    // quantiles serve per-source token-length stats; srcA doc lengths
    // are 4 and 7 (exact-below-k regime: p50 is one of the ranks)
    val q = cli("telemetry", "tel", "quantiles")
    val qa = q.linesIterator.find(_.startsWith("srcA")).get.split("\t")
    assert(Set("4", "7", "4.0", "7.0").exists(qa(1).startsWith),
      s"srcA p50: ${qa.toSeq}")
    // audience: exact distinct users per event type
    Seq((1L, "view"), (2L, "view"), (3L, "click"), (1L, "view"))
      .toDF("user_id", "event_type")
      .write.mode("overwrite").parquet("/tmp/graft_cli_tel_e1")
    cli("telemetry", "tel", "ingest-events", "/tmp/graft_cli_tel_e1", "1")
    val aud = cli("telemetry", "tel", "audience")
    assert(aud.linesIterator.toSeq.map(_.split("\t").toSeq).sortBy(_.head) ==
      Seq(Seq("click", "1"), Seq("view", "2")), s"audience:\n$aud")
    // takedowns: a popped source vanishes from BOTH doc-side serves; a
    // popped user shrinks the audience — immediately, pre-compact
    cli("telemetry", "tel", "pop-source", "srcB")
    assert(!cli("telemetry", "tel", "topk", "1").contains("srcB"))
    assert(!cli("telemetry", "tel", "quantiles").contains("srcB"))
    cli("telemetry", "tel", "pop-users", "1")
    val aud2 = cli("telemetry", "tel", "audience")
    assert(aud2.linesIterator.toSeq.map(_.split("\t").toSeq).sortBy(_.head) ==
      Seq(Seq("click", "1"), Seq("view", "1")), s"audience after pop:\n$aud2")
    // optimize folds all three stores; every serve is unchanged and
    // the takedowns stayed down (physically scrubbed now)
    cli("telemetry", "tel", "optimize")
    assert(cli("telemetry", "tel", "topk", "1") == top1
      .replaceAll("(?m)^srcB.*\n?", ""), "topk changed across compact")
    assert(!cli("telemetry", "tel", "quantiles").contains("srcB"))
    assert(cli("telemetry", "tel", "audience") == aud2,
      "audience changed across compact")
  }

  test("cli telemetry refuses an ingest ver at or below the fold horizon") {
    import spark.implicits._
    clean("telv_topk", "telv_topk_dels", "telv_quantiles",
      "telv_quantiles_dels", "telv_audience", "telv_audience_dels")
    def cli(args: String*): Unit = Cli.run(spark, args.toList)
    Seq(("srcA", "alpha beta")).toDF("source", "text")
      .write.mode("overwrite").parquet("/tmp/graft_cli_telv_d")
    Seq((1L, "view")).toDF("user_id", "event_type")
      .write.mode("overwrite").parquet("/tmp/graft_cli_telv_e")
    cli("telemetry", "telv", "ingest-docs", "/tmp/graft_cli_telv_d", "3")
    cli("telemetry", "telv", "ingest-events", "/tmp/graft_cli_telv_e", "3")
    cli("telemetry", "telv", "optimize")
    for (verb <- Seq("ingest-docs" -> "/tmp/graft_cli_telv_d",
        "ingest-events" -> "/tmp/graft_cli_telv_e"); ver <- Seq("2", "3")) {
      val e = intercept[RuntimeException](
        cli("telemetry", "telv", verb._1, verb._2, ver))
      assert(e.getMessage.contains("fold horizon 3"), e.getMessage)
    }
    cli("telemetry", "telv", "ingest-docs", "/tmp/graft_cli_telv_d", "4")
    cli("telemetry", "telv", "ingest-events", "/tmp/graft_cli_telv_e", "4")
  }

  test("cli graph: ingest, refresh, rank/community lookups, pop, staleness") {
    import spark.implicits._
    clean("cli_graph", "cli_graph_dels", "cli_graph_ranks",
      "cli_graph_communities", "cli_graph_cohesion", "cli_graph_kcore",
      "cli_graph_support")
    def cli(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) { Cli.run(spark, args.toList) }
      out.toString
    }
    Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"),
      ("x", "z"), ("c", "x")).toDF("src", "dst")
      .write.mode("overwrite").parquet("/tmp/graft_cli_graph_b1")
    cli("graph", "cli_graph", "ingest", "/tmp/graft_cli_graph_b1", "1")
    assert(cli("graph", "cli_graph", "refresh", "1", "2")
      .contains("refreshed"))
    // point lookups from the STORED tables
    val ra = cli("graph", "cli_graph", "rank", "a").trim.split("\t")
    assert(ra(0) == "a" && ra(1).toLong >= 150000L, ra.toSeq.toString)
    assert(cli("graph", "cli_graph", "community", "z").trim
      .split("\t").take(2).toSeq == Seq("z", "x"))
    assert(cli("graph", "cli_graph", "staleness").contains("fresh"))
    // the r15 fourth face: k-core point lookup from the stored table
    val ka = cli("graph", "cli_graph", "kcore", "a").trim.split("\t")
    assert(ka(0) == "a" && ka(1).toLong == 2L, ka.toSeq.toString)
    // a second batch makes the serve stale — visibly
    Seq(("z", "w")).toDF("src", "dst")
      .write.mode("overwrite").parquet("/tmp/graft_cli_graph_b2")
    cli("graph", "cli_graph", "ingest", "/tmp/graft_cli_graph_b2", "2")
    assert(cli("graph", "cli_graph", "staleness").contains("stale"))
    // takedown masks immediately; refresh scrubs and catches up
    cli("graph", "cli_graph", "pop", "a")
    assert(!cli("graph", "cli_graph", "rank").contains("a\t"))
    cli("graph", "cli_graph", "refresh", "1", "2")
    assert(cli("graph", "cli_graph", "staleness").contains("fresh"))
    assert(cli("graph", "cli_graph", "rank", "w").trim.nonEmpty)
    assert(!cli("graph", "cli_graph", "kcore").contains("a\t"),
      "popped node must be scrubbed from the served k-core")
    // the r15 decoupled faces: `tick` refreshes summaries without
    // touching the edge files; `compact` is the explicit rewrite
    Seq(("w", "v")).toDF("src", "dst")
      .write.mode("overwrite").parquet("/tmp/graft_cli_graph_b3")
    cli("graph", "cli_graph", "ingest", "/tmp/graft_cli_graph_b3", "3")
    val edgeFiles = spark.table("cli_graph").inputFiles.toSet
    assert(cli("graph", "cli_graph", "tick", "1", "2").contains("ticked"))
    assert(spark.table("cli_graph").inputFiles.toSet == edgeFiles,
      "tick must not rewrite the edge table")
    assert(cli("graph", "cli_graph", "staleness").contains("fresh"))
    assert(cli("graph", "cli_graph", "rank", "v").trim.nonEmpty)
    assert(cli("graph", "cli_graph", "compact").contains("compacted"))
    assert(cli("graph", "cli_graph", "rank", "v").trim.nonEmpty,
      "serves must survive the compaction")
  }
}
