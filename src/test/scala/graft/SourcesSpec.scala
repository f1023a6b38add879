package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Statements
import graft.operators.{Fpx, Xref}
import graft.sources.{FpxStore, FtmJson, StatementStore, TableSwap,
  XrefStore}

/** Specs for the storage layer: bucketed statement store with FINAL
  * semantics (shuffle-free by construction) and FTM JSONL ingest.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Drop from the catalog AND the filesystem: the in-memory catalog
    * forgets tables between JVMs but their warehouse dirs persist.
    */
  private def dropTable(name: String): Unit =
    TableSwap.dropManaged(spark, name)

  private def sampleStatements = {
    import spark.implicits._
    Seq(
      // id, entity_id, canonical_id, prop, prop_type, schema, value, dataset, last_seen
      ("s1", "e1", "e1", "name", "name", "Person", "Alice", "ds1", ts("2026-01-01 00:00:00")),
      // superseded then updated value for the same key ⇒ FINAL keeps s2's row
      ("s2", "e1", "e1", "country", "string", "Person", "de", "ds1", ts("2026-01-01 00:00:00")),
      ("s2", "e1", "e1", "country", "string", "Person", "de", "ds1", ts("2026-02-01 00:00:00")),
      ("s3", "e2", "e2", "name", "name", "Person", "Bob", "ds1", ts("2026-01-01 00:00:00")))
      .toDF("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "dataset", "last_seen")
  }

  test("statement store: FINAL collapses duplicate keys to max last_seen") {
    dropTable("stmt_spec")
    StatementStore.append(sampleStatements, "stmt_spec", buckets = 4)
    val raw = StatementStore.read(spark, "stmt_spec")
    assert(raw.count() == 4)
    val fin = StatementStore.readFinal(spark, "stmt_spec")
    assert(fin.count() == 3)
    val country = fin.filter(col("prop") === "country").collect()(0)
    assert(country.getAs[Timestamp]("last_seen") == ts("2026-02-01 00:00:00"))
  }

  test("bucketed store: FINAL + entity assembly run without any Exchange") {
    dropTable("stmt_spec2")
    StatementStore.append(sampleStatements, "stmt_spec2", buckets = 4)
    val plan = Statements.assemble(StatementStore.readFinal(spark, "stmt_spec2"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketing should elide every shuffle, got:\n$plan")
  }

  test("compact rewrites the table deduplicated") {
    dropTable("stmt_spec3")
    StatementStore.append(sampleStatements, "stmt_spec3", buckets = 4)
    StatementStore.compact(spark, "stmt_spec3", buckets = 4)
    assert(StatementStore.read(spark, "stmt_spec3").count() == 3)
  }

  test("compact swap: live name stays resolvable, stages reclaim safely") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import graft.sources.TableSwap
    dropTable("stmt_swap")
    StatementStore.append(sampleStatements, "stmt_swap", buckets = 4)
    def liveLoc(): String = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("stmt_swap")).location.toString
    // three consecutive compacts: each must take the SET LOCATION path
    // (live location moves to the NEXT versioned stage dir — never the
    // dir it currently occupies), leave no stage entry behind, and
    // keep the partitioned FINAL read correct
    for (i <- 1 to 3) {
      StatementStore.compact(spark, "stmt_swap", buckets = 4)
      assert(liveLoc().stripSuffix("/").endsWith(s"_stage_$i"),
        s"compact $i did not take the no-absent-window path: ${liveLoc()}")
      assert(!spark.catalog.tableExists(s"stmt_swap_stage_$i"),
        s"stage entry $i left attached after a clean swap")
      // every partition entry must sit under the live root: a
      // Hive-style catalog keeps per-partition locations on SET
      // LOCATION, and a spec still pointing under the (deleted) old
      // root reads 0 rows with no error. Compared through normLoc —
      // the catalog spells the same local path file:/x on the table
      // and file:///x on its partitions.
      val root = graft.sources.TableSwap.normLoc(
        java.net.URI.create(liveLoc()))
      spark.sessionState.catalog
        .listPartitions(TableIdentifier("stmt_swap")).foreach { p =>
          val loc = p.storage.locationUri
            .map(graft.sources.TableSwap.normLoc).getOrElse("")
          assert(loc.startsWith(root + "/"),
            s"partition ${p.spec} points outside the live root after " +
              s"compact $i: $loc !under $root")
        }
      val fin = StatementStore.readFinal(spark, "stmt_swap")
      assert(fin.count() == 3 && fin.filter(col("dataset") === "ds1").count() == 3)
    }
    // crash-state recovery: a stage entry sharing the live table's
    // location (crash after the swap, before the detach) must reclaim
    // WITHOUT deleting the rows the live table serves
    spark.sql("CREATE TABLE stmt_swap_stage_9 (x INT) USING parquet")
    spark.sql(s"ALTER TABLE stmt_swap_stage_9 SET LOCATION '${liveLoc()}'")
    TableSwap.dropStage(spark, "stmt_swap_stage_9", "stmt_swap")
    assert(!spark.catalog.tableExists("stmt_swap_stage_9"))
    assert(StatementStore.readFinal(spark, "stmt_swap").count() == 3,
      "dropStage deleted live rows through a shared-location stage entry")
    // stranded-stage recovery: a crash after SET LOCATION leaves the
    // live table sharing a directory with a stage entry whose VERSION
    // the next compact does not target (it stages into N+1), so
    // reclaiming only the next name (the pre-r8-review behavior)
    // stranded the shared entry forever — compact must reclaim ALL
    // stage siblings through the detach guard
    spark.sql("CREATE TABLE stmt_swap_stage_2 (x INT) USING parquet")
    spark.sql(s"ALTER TABLE stmt_swap_stage_2 SET LOCATION '${liveLoc()}'")
    StatementStore.compact(spark, "stmt_swap", buckets = 4)
    assert(!spark.catalog.tableExists("stmt_swap_stage_2"),
      "compact stranded a live-sharing stage entry from a prior crash")
    assert(StatementStore.readFinal(spark, "stmt_swap").count() == 3,
      "reclaiming the stranded stage entry deleted live rows")
    dropTable("stmt_swap")
  }

  // Every compact face, one row each: after the compact no
  // `<t>_stage_N` entry is left in the catalog, the warehouse holds
  // exactly one directory per swapped table — its live location, no
  // orphaned old root and no `_detached` target — no
  // FileNotFoundException is logged, and the FINAL count is unchanged.
  test("compact detaches its stage onto a directory that exists and leaves none behind") {
    import spark.implicits._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.TableIdentifier
    import graft.sources.{DocStore, GraphStore, SketchStore, VecStore}
    val fpx = Fpx.fromStatements(Seq(
      ("e1", "Person", "ds1", "name", "name", "Tchibo Holding AG"),
      ("e2", "Person", "ds1", "name", "name", "Holding Tchibo"))
      .toDF("entity_id", "schema", "dataset", "prop", "prop_type", "value"))
    val judge = (l: String, r: String, ts: Long) =>
      ("ds1", l, "Person", "de", l, "ds1", r, "Person", "de", r,
        "positive", 0.5, ts, "graft")
    val docs = Seq((1L, "one two three four five six", "s"),
      (2L, "seven eight nine ten eleven twelve", "s"))
      .toDF("doc_id", "text", "source")
    val emb = Tables.load(spark, sf, "embeddings")
    // (store, swapped tables, extra tables to drop, fill, compact,
    // FINAL count); the statement store compacts twice, so its second
    // swap moves off a versioned stage directory too
    val faces = Seq[(String, Seq[String], Seq[String], () => Unit,
        () => Unit, () => Long)](
      ("cdet_stmt", Seq("cdet_stmt"), Nil,
        () => StatementStore.append(sampleStatements, "cdet_stmt", buckets = 4),
        () => for (_ <- 1 to 2)
          StatementStore.compact(spark, "cdet_stmt", buckets = 4),
        () => StatementStore.readFinal(spark, "cdet_stmt").count()),
      ("cdet_fpx", Seq("cdet_fpx"), Nil,
        () => (1 to 2).foreach(_ =>
          FpxStore.append(fpx, "cdet_fpx", buckets = 4)),
        () => FpxStore.compact(spark, "cdet_fpx", buckets = 4),
        () => FpxStore.readFinal(spark, "cdet_fpx").count()),
      ("cdet_xref", Seq("cdet_xref", "cdet_xref_reverse"),
        Seq("cdet_xref_mapping", "cdet_xref_dsdels"),
        () => XrefStore.append(Seq(judge("a", "b", 1L), judge("a", "b", 2L),
          judge("b", "c", 1L)).toDF(Xref.columns: _*), "cdet_xref",
          buckets = 4),
        () => XrefStore.compact(spark, "cdet_xref"),
        () => XrefStore.readLatest(spark, "cdet_xref").count()),
      ("cdet_doc", Seq("cdet_doc", "cdet_doc_bands"), Seq("cdet_doc_dels"),
        () => (1 to 2).foreach(_ =>
          DocStore.append(docs, "cdet_doc", buckets = 4)),
        () => DocStore.compact(spark, "cdet_doc"),
        () => DocStore.readFinal(spark, "cdet_doc").count()),
      ("cdet_vec", Seq("cdet_vec"),
        Seq("_cents", "_tops", "_leafmap", "_pq", "_codes", "_dels")
          .map("cdet_vec" + _),
        () => VecStore.init(spark, "cdet_vec", emb, col("label"), buckets = 4),
        () => VecStore.compact(spark, "cdet_vec"),
        () => VecStore.readFinal(spark, "cdet_vec").count()),
      ("cdet_graph", Seq("cdet_graph"), Seq("cdet_graph_dels"),
        () => (1 to 2).foreach(v => GraphStore.append(
          Seq(("a", "b"), ("b", "c")).toDF("src", "dst"), "cdet_graph",
          ver = v, buckets = 2)),
        () => GraphStore.compact(spark, "cdet_graph"),
        () => GraphStore.edges(spark, "cdet_graph").count()),
      ("cdet_sk", Seq("cdet_sk"), Seq("cdet_sk_dels"),
        () => (0 to 1).foreach(v =>
          SketchStore.applyBatch(spark, docs, "cdet_sk", 64, v.toLong)),
        () => SketchStore.compact(spark, "cdet_sk", 64),
        () => SketchStore.readEstimates(spark, "cdet_sk", 64).count()))
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("detach-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(s"${e.getMessage.getFormattedMessage} ${e.getThrown}")
    }
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def dirsOf(t: String): Seq[String] =
      Option(wh.list()).getOrElse(Array.empty[String]).toSeq
        .filter(n => n == t || n.startsWith(s"${t}_stage_"))
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try for ((name, swapped, extra, fill, compact, finalCount) <- faces) {
      (swapped ++ extra).foreach(dropTable)
      fill()
      val before = finalCount()
      logged.clear()
      compact()
      assert(!logged.asScala.exists(_.contains("FileNotFoundException")),
        s"$name: ${logged.asScala.mkString("\n")}")
      for (t <- swapped) {
        val stages = spark.catalog.listTables().collect().map(_.name)
          .filter(_.matches(s"${t}_stage_\\d+"))
        assert(stages.isEmpty,
          s"$name: stage entries left: ${stages.mkString(", ")}")
        val live = new java.io.File(spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).location).getName
        assert(dirsOf(t) == Seq(live),
          s"$name: $t's warehouse dirs ${dirsOf(t).mkString(", ")} are not " +
            s"just its live location $live")
      }
      assert(finalCount() == before, s"$name: FINAL count changed")
      (swapped ++ extra).foreach(dropTable)
    } finally { root.removeAppender(appender); appender.stop() }
  }

  // the creation count wins: a write at any other count emits file
  // bucket ids the catalog's bucket spec disowns, and a bucket-pruned
  // point read then drops rows silently. Every store is created at 4;
  // each side table created after its main table (vector `_codes`, doc
  // `_anchors`, xref `_mapping`, the five graph summaries) lands at the
  // main table's 4 too. Appends then name 2 where their call can
  // create the main table (the vector append cannot, and names no
  // count), and so do the statement and fpx compacts (the other
  // compacts name no count).
  test("every bucketed store keeps its creation bucket count") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    import graft.sources.{DocStore, GraphStore, VecStore}
    val stmts = (from: Int, day: String) => (from until from + 8).map(i =>
      (s"s$i", s"e$i", s"e$i", "name", "name", "Person", s"v$i",
        s"ds${i % 2}", ts(s"2026-01-$day 00:00:00")))
      .toDF("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "dataset", "last_seen")
    val fpx = (from: Int) => Fpx.fromStatements((from until from + 8)
      .map(i => (s"e$i", "Person", "ds1", "name", "name", s"Name$i Holding"))
      .toDF("entity_id", "schema", "dataset", "prop", "prop_type", "value"))
    val judge = (from: Int) => (from until from + 4).map(i =>
      ("ds1", s"a$i", "Person", "de", s"a$i", "ds1", s"b$i", "Person", "de",
        s"b$i", "positive", 0.5, i.toLong, "graft")).toDF(Xref.columns: _*)
    val docs = (from: Long) => (from until from + 3L)
      .map(i => (i, s"doc $i says one two three four five", "s"))
      .toDF("doc_id", "text", "source")
    // a 4-clique: every edge closes two triangles, so every graph
    // summary has rows
    val clique = (from: Int) => (for (i <- from until from + 4;
        j <- i + 1 until from + 4) yield (s"n$i", s"n$j")).toDF("src", "dst")
    val refresh = () => GraphStore.refresh(spark, "bk_graph", iters = 2,
      lpRounds = 2, kcoreK = 2L, kcoreRounds = 2)
    val summaries = Seq("_ranks" -> "id", "_support" -> "a",
      "_cohesion" -> "node", "_communities" -> "node", "_kcore" -> "node")
    val emb = Tables.load(spark, sf, "embeddings")
    // (name, tables to drop, (checked table, bucket columns),
    // create at 4 then build the side tables, append at 2, compact)
    val faces = Seq[(String, Seq[String], Seq[(String, Seq[String])],
        () => Unit, () => Unit, () => Unit)](
      ("statement", Seq("bk_stmt"), Seq("bk_stmt" -> Seq("canonical_id")),
        () => StatementStore.append(stmts(0, "01"), "bk_stmt", 4),
        () => StatementStore.append(stmts(4, "02"), "bk_stmt", 2),
        () => StatementStore.compact(spark, "bk_stmt", 2)),
      ("fpx", Seq("bk_fpx"), Seq("bk_fpx" -> Seq("value")),
        () => FpxStore.append(fpx(0), "bk_fpx", 4),
        () => FpxStore.append(fpx(4), "bk_fpx", 2),
        () => FpxStore.compact(spark, "bk_fpx", 2)),
      ("xref", Seq("", "_reverse", "_mapping", "_dsdels").map("bk_xref" + _),
        Seq("bk_xref" -> Seq("left_id"), "bk_xref_reverse" -> Seq("right_id"),
          "bk_xref_mapping" -> Seq("entity_id")),
        () => {
          XrefStore.append(judge(0), "bk_xref", 4)
          XrefStore.applyBatch(spark, judge(1), "bk_xref", 1L)
        },
        () => XrefStore.applyBatch(spark, judge(2), "bk_xref", 2L, 2),
        () => {
          XrefStore.compact(spark, "bk_xref")
          XrefStore.compactMapping(spark, "bk_xref")
        }),
      ("doc", Seq("", "_bands", "_anchors", "_anchorsmeta", "_dels")
          .map("bk_doc" + _),
        Seq("bk_doc" -> Seq("doc_id"), "bk_doc_bands" -> Seq("band", "key"),
          "bk_doc_anchors" -> Seq("h")),
        () => {
          DocStore.append(docs(0L), "bk_doc", buckets = 4)
          DocStore.initAnchors(spark, "bk_doc", k = 4)
        },
        () => DocStore.append(docs(2L), "bk_doc", buckets = 2),
        () => DocStore.compact(spark, "bk_doc")),
      ("graph", ("_dels" +: "" +: summaries.map(_._1)).map("bk_graph" + _),
        ("bk_graph" -> Seq("src")) +:
          summaries.map { case (s, k) => s"bk_graph$s" -> Seq(k) },
        () => { GraphStore.append(clique(0), "bk_graph", 1L, buckets = 4)
          refresh() },
        () => { GraphStore.append(clique(2), "bk_graph", 2L, buckets = 2)
          refresh() },
        () => GraphStore.compact(spark, "bk_graph")),
      ("vec", Seq("", "_cents", "_pq", "_codes", "_dels").map("bk_vec" + _),
        Seq("bk_vec" -> Seq("vec_id"), "bk_vec_codes" -> Seq("vec_id")),
        () => {
          VecStore.init(spark, "bk_vec", emb.filter(col("vec_id") < 40),
            col("label"), buckets = 4)
          VecStore.trainPqCodebook(spark, "bk_vec", numSub = 8,
            codebookK = 4)
        },
        () => VecStore.append(spark, emb.filter(col("vec_id") < 8)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
          "bk_vec"),
        () => VecStore.compact(spark, "bk_vec")))
    def violations(t: String, keyCols: Seq[String]): Seq[String] = {
      val count = TableSwap.bucketsOf(spark, t)
      val files = spark.table(t).inputFiles.toSeq
      val badIds = files.map(f => BucketingUtils.getBucketId(
        new Path(f).getName)).filterNot(_.exists(_ < 4))
      val loc = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t)).location.toString
      // per key: rows the live location's files hold vs rows a
      // bucket-pruned point read returns (one union branch — one
      // pruned scan — per key, all in one job)
      val raw = spark.read.parquet(loc).select(keyCols.map(col): _*)
        .collect().toSeq.groupBy(_.toSeq).toSeq.sortBy(_._1.mkString)
        .take(8)
      val hits = raw.zipWithIndex.map { case ((key, _), i) =>
        spark.table(t).filter(keyCols.zip(key)
          .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
          .select(lit(i))
      }.reduce(_ unionAll _).collect().toSeq.groupBy(_.getInt(0))
        .map { case (i, rs) => i -> rs.size.toLong }
      val lost = raw.zipWithIndex.collect {
        case ((key, rows), i) if hits.getOrElse(i, 0L) != rows.size =>
          s"${key.mkString(",")}: ${hits.getOrElse(i, 0L)} of " +
            s"${rows.size} rows"
      }
      (if (count.contains(4)) Nil else Seq(s"$t: bucket count $count")) ++
        (if (badIds.isEmpty) Nil else Seq(s"$t: file bucket ids $badIds")) ++
        lost.map(l => s"$t: point read lost rows, $l")
    }
    // each step runs even when the one before it threw, so a compact
    // is checked after a refused append too
    def attempt(step: String)(body: => Seq[String]): Seq[String] =
      scala.util.Try(body).fold(e => Seq(s"$step threw " +
        s"${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).linesIterator.take(1).mkString),
        _.map(s"after $step: " + _))
    val failures = faces.flatMap {
      case (name, drop, checked, create, append, compact) =>
        drop.foreach(dropTable)
        val found = Seq("create" -> create, "append" -> append,
            "compact" -> compact).flatMap { case (step, run) =>
          attempt(step) {
            run()
            checked.flatMap { case (t, k) => violations(t, k) }
          }
        }
        drop.foreach(dropTable)
        found.map(s"$name: " + _)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** The parquet footers of `t`'s live files: (file, codec of each
    * column chunk, whether that chunk carries a bloom filter, whether
    * it has non-dictionary pages), one row per chunk.
    */
  private def chunksOf(t: String): Seq[(String, String, String, Boolean, Boolean)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    spark.catalog.refreshTable(t)
    val conf = spark.sessionState.newHadoopConf()
    spark.table(t).inputFiles.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap { block =>
        val blooms = reader.getBloomFilterDataReader(block)
        block.getColumns.asScala.map { c =>
          val stats = c.getEncodingStats
          (f, c.getPath.toDotString, c.getCodec.name,
            blooms.readBloomFilter(c) != null,
            stats == null || stats.hasNonDictionaryEncodedPages())
        }
      } finally reader.close()
    }
  }

  /** What in `t` is not zstd, or a note when `t` has no file at all
    * (a check over no chunk proves nothing).
    */
  private def nonZstd(t: String): Seq[String] = {
    val chunks = chunksOf(t)
    val bad = chunks.filter(_._3 != "ZSTD")
    if (chunks.isEmpty) Seq(s"$t: no data file")
    else if (bad.isEmpty) Nil
    else Seq(s"$t: ${bad.size} of ${chunks.size} column chunks are " +
      s"${bad.map(_._3).distinct.mkString("/")} (columns " +
      s"${bad.map(_._2).distinct.mkString(", ")})")
  }

  // the codec is part of the one bucketed writer's layout: every table
  // kind BucketedLayout writes carries zstd column chunks after its
  // first create, an append and a compact
  test("every bucketed store table is written with zstd on create, append and compact") {
    import spark.implicits._
    import graft.sources.{DocStore, GraphStore, VecStore}
    val stmts = (from: Int, day: String) => (from until from + 8).map(i =>
      (s"s$i", s"e$i", s"e$i", "name", "name", "Person", s"v$i",
        s"ds${i % 2}", ts(s"2026-01-$day 00:00:00")))
      .toDF("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "dataset", "last_seen")
    val fpx = (from: Int) => Fpx.fromStatements((from until from + 8)
      .map(i => (s"e$i", "Person", "ds1", "name", "name", s"Name$i Holding"))
      .toDF("entity_id", "schema", "dataset", "prop", "prop_type", "value"))
    val judge = (from: Int) => (from until from + 4).map(i =>
      ("ds1", s"a$i", "Person", "de", s"a$i", "ds1", s"b$i", "Person", "de",
        s"b$i", "positive", 0.5, i.toLong, "graft")).toDF(Xref.columns: _*)
    val docs = (from: Long) => (from until from + 3L)
      .map(i => (i, s"doc $i says one two three four five", "s"))
      .toDF("doc_id", "text", "source")
    // a 4-clique: every edge closes two triangles, so the support and
    // cohesion summaries have rows
    val clique = (from: Int) => (for (i <- from until from + 4;
        j <- i + 1 until from + 4) yield (s"n$i", s"n$j")).toDF("src", "dst")
    val refresh = () => GraphStore.refresh(spark, "zc_graph", iters = 2,
      lpRounds = 2, kcoreRounds = 2)
    val emb = Tables.load(spark, sf, "embeddings")
    // (name, tables to drop, tables checked, create, append, compact)
    val faces = Seq[(String, Seq[String], Seq[String],
        () => Unit, () => Unit, () => Unit)](
      ("statement", Seq("zc_stmt"), Seq("zc_stmt"),
        () => StatementStore.append(stmts(0, "01"), "zc_stmt", 4),
        () => StatementStore.append(stmts(4, "02"), "zc_stmt", 4),
        () => StatementStore.compact(spark, "zc_stmt", 4)),
      ("fpx", Seq("zc_fpx"), Seq("zc_fpx"),
        () => FpxStore.append(fpx(0), "zc_fpx", 4),
        () => FpxStore.append(fpx(4), "zc_fpx", 4),
        () => FpxStore.compact(spark, "zc_fpx", 4)),
      ("xref", Seq("", "_reverse", "_mapping", "_dsdels").map("zc_xref" + _),
        Seq("", "_reverse", "_mapping").map("zc_xref" + _),
        () => XrefStore.applyBatch(spark, judge(0), "zc_xref", 1L, 4),
        () => XrefStore.applyBatch(spark, judge(2), "zc_xref", 2L, 4),
        () => {
          XrefStore.compact(spark, "zc_xref")
          XrefStore.compactMapping(spark, "zc_xref")
        }),
      ("doc", Seq("", "_bands", "_anchors", "_anchorsmeta", "_dels")
          .map("zc_doc" + _),
        Seq("", "_bands", "_anchors").map("zc_doc" + _),
        () => {
          DocStore.append(docs(0L), "zc_doc", buckets = 4)
          DocStore.initAnchors(spark, "zc_doc", k = 4)
        },
        () => DocStore.append(docs(2L), "zc_doc", buckets = 4),
        () => DocStore.compact(spark, "zc_doc")),
      ("graph", Seq("", "_dels", "_ranks", "_communities", "_cohesion",
          "_kcore", "_support").map("zc_graph" + _),
        Seq("", "_ranks", "_communities", "_cohesion", "_kcore", "_support")
          .map("zc_graph" + _),
        () => { GraphStore.append(clique(0), "zc_graph", 1L, 4); refresh() },
        () => { GraphStore.append(clique(2), "zc_graph", 2L, 4); refresh() },
        () => GraphStore.compact(spark, "zc_graph")),
      ("vec", Seq("", "_cents", "_tops", "_leafmap", "_pq", "_codes", "_dels")
          .map("zc_vec" + _),
        Seq("zc_vec", "zc_vec_codes"),
        () => {
          VecStore.init(spark, "zc_vec", emb.filter(col("vec_id") < 40),
            col("label"), buckets = 4)
          VecStore.trainPqCodebook(spark, "zc_vec", numSub = 8,
            codebookK = 4)
        },
        () => VecStore.append(spark, emb.filter(col("vec_id") < 8)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
          "zc_vec"),
        () => VecStore.compact(spark, "zc_vec")))
    val failures = faces.flatMap {
      case (name, drop, checked, create, append, compact) =>
        drop.foreach(dropTable)
        val found = Seq("create" -> create, "append" -> append,
            "compact" -> compact).flatMap { case (step, run) =>
          run()
          checked.flatMap(nonZstd).map(s"$name after $step: " + _)
        }
        drop.foreach(dropTable)
        found
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // parquet readers take each file's codec from its own footer, so a
  // store holding files of two codecs serves them side by side. A
  // table's appends take the codec its creating write recorded in the
  // catalog entry; a compact stage is a new table at the layout's zstd.
  // So a store created at snappy (here through `writerOptions`, as a
  // store created before the codec joined the layout has the session's
  // snappy) mixes codecs once compacted and appended to, and its next
  // compact leaves only zstd.
  test("a mixed-codec statement store reads as an all-zstd one; compact leaves zstd; blooms kept") {
    Seq("codec_mixed", "codec_zstd").foreach(dropTable)
    // batch 1 re-ingests half of batch 0's statements at a later
    // last_seen, so FINAL picks versions across files of both codecs
    def batch(k: Int) = spark.range(k * 2000L, k * 2000L + 4000L)
      .select(
        concat(lit("s"), col("id")).as("id"),
        concat(lit("e"), pmod(col("id") * 7919L, lit(3000L))).as("entity_id"),
        concat(lit("e"), pmod(col("id") * 7919L, lit(3000L))).as("canonical_id"),
        lit("name").as("prop"), lit("name").as("prop_type"),
        lit("Person").as("schema"), concat(lit("v"), col("id")).as("value"),
        concat(lit("ds"), pmod(col("id"), lit(2L))).as("dataset"),
        lit(ts(s"2026-01-0${k + 1} 00:00:00")).as("last_seen"))
    // a 512-byte dictionary page makes the canonical_id chunks fall back to
    // plain pages, the only chunks parquet writes a bloom filter for
    val small = Map("parquet.dictionary.page.size" -> "512")
    def codecs(t: String) = chunksOf(t).map(_._3).toSet
    StatementStore.append(batch(0), "codec_mixed", 4,
      writerOptions = small + ("compression" -> "snappy"))
    assert(codecs("codec_mixed") == Set("SNAPPY"))
    StatementStore.compact(spark, "codec_mixed", 4, writerOptions = small)
    assert(codecs("codec_mixed") == Set("ZSTD"))
    StatementStore.append(batch(1), "codec_mixed", 4)
    assert(codecs("codec_mixed") == Set("SNAPPY", "ZSTD"))
    (0 to 1).foreach(k =>
      StatementStore.append(batch(k), "codec_zstd", 4, writerOptions = small))
    assert(codecs("codec_zstd") == Set("ZSTD"))
    val ids = chunksOf("codec_zstd").filter(_._2 == "canonical_id")
    assert(ids.exists(_._5), "no canonical_id chunk left the dictionary")
    assert(ids.filter(_._5).forall(_._4),
      "a canonical_id chunk with plain pages carries no bloom filter")
    def contentHash(t: String) = {
      val fin = StatementStore.readFinal(spark, t)
      val cols = fin.columns.sorted.map(col)
      fin.agg(count(lit(1)),
        sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head().toSeq
    }
    def lookup(t: String, id: String) = StatementStore.readFinal(spark, t)
      .filter(col("canonical_id") === id).collect().map(_.toSeq).toSet
    val keys = Seq("e0", "e17", "e1234", "e2999", "e-absent")
    val want = contentHash("codec_zstd")
    assert(want.head == 6000L)
    assert(contentHash("codec_mixed") == want)
    for (k <- keys) assert(lookup("codec_mixed", k) == lookup("codec_zstd", k), k)
    StatementStore.compact(spark, "codec_mixed", 4)
    assert(codecs("codec_mixed") == Set("ZSTD"))
    assert(contentHash("codec_mixed") == want)
    for (k <- keys) assert(lookup("codec_mixed", k) == lookup("codec_zstd", k), k)
    Seq("codec_mixed", "codec_zstd").foreach(dropTable)
  }

  test("bucket pruning: a canonical_id point lookup reads one bucket") {
    dropTable("stmt_spec5")
    StatementStore.append(sampleStatements, "stmt_spec5", buckets = 4)
    // filter-only plans need autoBucketedScan off, or the planner
    // drops bucketed reading (and with it bucket pruning)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = StatementStore.read(spark, "stmt_spec5")
        .filter(col("canonical_id") === "e1")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
        s"expected single-bucket scan, got:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("dropDataset removes one partition, leaves the rest") {
    import spark.implicits._
    dropTable("stmt_spec4")
    val two = sampleStatements.unionByName(
      sampleStatements.withColumn("dataset", org.apache.spark.sql
        .functions.lit("ds2")))
    StatementStore.append(two, "stmt_spec4", buckets = 4)
    assert(StatementStore.read(spark, "stmt_spec4").count() == 8)
    StatementStore.dropDataset(spark, "stmt_spec4", "ds2")
    val left = StatementStore.read(spark, "stmt_spec4")
    assert(left.count() == 4)
    assert(left.select("dataset").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("ds1"))
  }

  test("pop returns the entity's statements and FINAL excludes them") {
    dropTable("stmt_spec6")
    StatementStore.append(sampleStatements, "stmt_spec6", buckets = 4)

    val popped = StatementStore.pop(spark, "stmt_spec6", "e1", buckets = 4)
    // e1 has 2 FINAL statements (s1 name + s2 country, duplicates collapsed)
    assert(popped.count() == 2)
    assert(popped.select("entity_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("e1"))

    // append-only delete: raw rows still there plus 2 tombstones …
    assert(StatementStore.read(spark, "stmt_spec6").count() == 6)
    // … but FINAL sees only the untouched entity
    val fin = StatementStore.readFinal(spark, "stmt_spec6")
    assert(fin.count() == 1)
    assert(fin.select("entity_id").collect()(0).getString(0) == "e2")

    // popping a missing entity returns empty and writes nothing
    assert(StatementStore.pop(spark, "stmt_spec6", "zzz", buckets = 4).count() == 0)
    assert(StatementStore.read(spark, "stmt_spec6").count() == 6)

    // compact drops the dead rows physically
    StatementStore.compact(spark, "stmt_spec6", buckets = 4)
    assert(StatementStore.read(spark, "stmt_spec6").count() == 1)

    // re-inserting with a newer version resurrects the entity
    val resurrect = sampleStatements
      .filter(col("entity_id") === "e1")
      .withColumn("last_seen", lit(ts("2031-01-01 00:00:00")))
    StatementStore.append(resurrect, "stmt_spec6", buckets = 4)
    assert(StatementStore.readFinal(spark, "stmt_spec6")
      .filter(col("entity_id") === "e1").count() == 2)
  }

  test("fpx store: FINAL dedups re-ingests; freq and blocks run without Exchange") {
    import spark.implicits._
    dropTable("fpx_spec")
    val stmts = Seq(
      ("e1", "Person", "ds1", "name", "name", "Tchibo Holding AG"),
      ("e2", "Person", "ds1", "name", "name", "Holding Tchibo"),
      ("e3", "Person", "ds2", "name", "name", "Unrelated Corp"))
      .toDF("entity_id", "schema", "dataset", "prop", "prop_type", "value")
    val fpx = Fpx.fromStatements(stmts)
    FpxStore.append(fpx, "fpx_spec", buckets = 4)
    FpxStore.append(fpx, "fpx_spec", buckets = 4) // re-delivery
    assert(FpxStore.read(spark, "fpx_spec").count() == fpx.count() * 2)
    // FINAL = one row per ReplacingMergeTree key (re-delivery AND
    // within-batch phonetic-code collisions collapse)
    assert(FpxStore.readFinal(spark, "fpx_spec").count() ==
      fpx.dropDuplicates(FpxStore.keyCols).count())

    // algorithm slice prunes partitions; value-bucketing elides the
    // groupBy shuffles for both derived views
    val freqPlan = FpxStore.freq(spark, "fpx_spec")
      .queryExecution.executedPlan.toString
    assert(!freqPlan.contains("Exchange"),
      s"freq over the bucketed fpx store should not shuffle:\n$freqPlan")
    // blocks: the allowed SHUFFLE Exchanges are the block-grain
    // generation spread (r15 — descriptor generation must not
    // serialize into one AQE-coalesced task), the chunk-descriptor
    // rebalance, and the final pair-distinct; the sketch-guard's
    // survivor-list BroadcastExchange is fine (it moves a tiny value
    // list, not the table). Everything from the scan through the
    // member-set aggregate must stay in-bucket (plans print top-down,
    // so that means no shuffle BELOW the first ObjectHashAggregate)
    val blocksPlan = FpxStore.blocks(spark, "fpx_spec")
      .queryExecution.executedPlan.toString
    def shuffles(p: String): Int =
      "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(shuffles(blocksPlan) <= 3,
      s"only spread + chunk rebalance + pair-distinct may shuffle:\n$blocksPlan")
    val belowAgg = blocksPlan.substring(
      blocksPlan.indexOf("ObjectHashAggregate"))
    assert(shuffles(belowAgg) == 0,
      s"block membership agg should aggregate in-bucket:\n$blocksPlan")

    // the shared-token block pairs e1/e2 ("tchibo" + "holding")
    val pairs = FpxStore.blocks(spark, "fpx_spec").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("e1", "e2")))
  }

  test("xref store: upsert without Exchange; reverse projection point lookup") {
    import spark.implicits._
    dropTable("xref_spec")
    dropTable("xref_spec_reverse")
    val mk = (l: String, r: String, j: String, ts: Long) =>
      ("ds", l, "Person", "de", s"cap-$l", "ds", r, "Person", "fr",
        s"cap-$r", j, 0.5, ts, "graft")
    val base = Seq(
      mk("a", "b", "no_judgement", 1L),
      mk("a", "c", "no_judgement", 1L))
      .toDF(Xref.columns: _*)
    XrefStore.append(base, "xref_spec", buckets = 4)
    // re-judge one pair at a later ts — FINAL must supersede
    XrefStore.append(Seq(mk("a", "b", "positive", 2L)).toDF(Xref.columns: _*),
      "xref_spec", buckets = 4)

    val latest = XrefStore.readLatest(spark, "xref_spec")
    assert(latest.count() == 2)
    assert(latest.filter($"right_id" === "b")
      .select("judgement").collect()(0).getString(0) == "positive")
    val plan = latest.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"latest-judgement window should run in-bucket:\n$plan")

    // the reverse projection: right-side-first point lookup
    val rev = XrefStore.lookupByRight(spark, "xref_spec", "b").collect()
    assert(rev.length == 1)
    assert(rev(0).getString(1) == "b" && rev(0).getString(6) == "a")
    assert(rev(0).getString(10) == "positive")
  }

  test("xref store compact: superseded rows physically gone, reverse consistent") {
    import spark.implicits._
    Seq("xref_cspec", "xref_cspec_reverse", "xref_cspec_compacted",
      "xref_cspec_reverse_compacted").foreach(dropTable)
    val mk = (l: String, r: String, j: String, ts: Long) =>
      ("ds", l, "Person", "de", s"cap-$l", "ds", r, "Person", "fr",
        s"cap-$r", j, 0.5, ts, "graft")
    XrefStore.append(Seq(
      mk("a", "b", "no_judgement", 1L),
      mk("a", "c", "no_judgement", 1L)).toDF(Xref.columns: _*),
      "xref_cspec", buckets = 4)
    XrefStore.append(Seq(mk("a", "b", "positive", 2L))
      .toDF(Xref.columns: _*), "xref_cspec", buckets = 4)
    assert(XrefStore.read(spark, "xref_cspec").count() == 3)

    XrefStore.compact(spark, "xref_cspec")
    // the OPTIMIZE FINAL analogue: the superseded (a,b,ts=1) row is
    // physically gone from BOTH tables, the ts=2 judgement survives
    val main = XrefStore.read(spark, "xref_cspec")
    assert(main.count() == 2)
    assert(main.filter($"right_id" === "b").collect()(0)
      .getAs[String]("judgement") == "positive")
    val rev = spark.table(XrefStore.reverseTable("xref_cspec"))
    assert(rev.count() == 2)
    assert(rev.columns.take(2).toSeq == Seq("right_dataset", "right_id"))
    // reverse rows = exactly the main rows reordered
    assert(rev.select("left_id", "right_id", "judgement", "ts")
      .collect().map(_.toSeq).toSet ==
      main.select("left_id", "right_id", "judgement", "ts")
        .collect().map(_.toSeq).toSet)
    // compacted table keeps the bucketed layout: point lookups and the
    // FINAL window still run without an Exchange
    val plan = XrefStore.readLatest(spark, "xref_cspec")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"compacted xref table must keep its bucketing:\n$plan")
  }

  // r13: source-grain takedown across the remaining stores — the
  // delete story's last two faces (DocStore/VecStore have id-grain
  // pop since r11/r12).
  test("sketch store pop: popped source vanishes from estimates, compact drops rows") {
    import spark.implicits._
    import graft.sources.SketchStore
    Seq("sk_pop", "sk_pop_dels").foreach(dropTable)
    val k = 64
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "keep"),
      (2L, "eta theta iota kappa lambda mu", "keep"),
      (3L, "nu xi omicron pi rho sigma", "gone"))
      .toDF("doc_id", "text", "source")
    SketchStore.applyBatch(spark, docs, "sk_pop", k, batchId = 0L)
    def est(): Map[String, Long] =
      SketchStore.readEstimates(spark, "sk_pop", k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = est()
    assert(before.keySet == Set("keep", "gone"))
    SketchStore.pop(spark, "sk_pop", Seq("gone").toDF("source"))
    // immediate exclusion, survivor unchanged; raw rows still present
    assert(est() == before - "gone")
    assert(spark.table("sk_pop").count() == 2)
    // sticky: a late batch re-appending the popped source stays hidden
    SketchStore.applyBatch(spark,
      Seq((4L, "tau upsilon phi chi psi omega", "gone"))
        .toDF("doc_id", "text", "source"), "sk_pop", k, batchId = 1L)
    assert(est() == before - "gone")
    SketchStore.compact(spark, "sk_pop", k)
    assert(spark.table("sk_pop").count() == 1,
      "compact must physically drop the popped source's sketch rows")
    assert(!spark.catalog.tableExists("sk_pop_dels"),
      "compact must retire the tombstones")
    assert(est() == before - "gone")
  }

  // r13: the heavy-hitters store — version accounting where the KMV
  // store used set algebra (an MG summary merged twice double-counts,
  // so exactly-once must come from the store, not the fold)
  test("topk store: version-accounted fold replay-proof at both grains, pop, compact") {
    import spark.implicits._
    import graft.sources.TopKStore
    Seq("tk_store", "tk_store_dels").foreach(dropTable)
    val cap = 64
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    val b0 = docs((1L, "a a a b b c", "s1"), (2L, "x x y", "s2"))
    val b1 = docs((3L, "b b b c", "s1"))
    TopKStore.applyBatch(spark, b0, "tk_store", cap, batchId = 0L)
    TopKStore.applyBatch(spark, b1, "tk_store", cap, batchId = 1L)
    def top(): Map[String, Seq[(String, Long)]] =
      TopKStore.readTopK(spark, "tk_store", 3, cap).collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getString(0), x.getLong(1))).toSeq).toMap
    val t0 = top()
    assert(t0("s1") == Seq(("b", 5L), ("a", 3L), ("c", 2L)), t0.toString)
    assert(t0("s2") == Seq(("x", 2L), ("y", 1L)))
    // a replayed batch (same batchId, different partitioning) is a
    // no-op: the (source, ver) dedup keeps one row
    TopKStore.applyBatch(spark, b1.repartition(5), "tk_store", cap,
      batchId = 1L)
    assert(top() == t0, "replayed batch double-counted")
    // compact folds to one row per source; served top-k invariant
    TopKStore.compact(spark, "tk_store", cap)
    assert(top() == t0, "compact moved the estimates")
    assert(spark.table("tk_store").groupBy("source").count()
      .collect().forall(_.getLong(1) == 1L), "compact folds to 1 row/source")
    // a raw batch replayed AFTER the compact that folded it sits
    // behind the folded row's version horizon — still a no-op
    TopKStore.applyBatch(spark, b1, "tk_store", cap, batchId = 1L)
    assert(top() == t0, "post-compact replay double-counted")
    // a FRESH batch past the horizon lands normally
    TopKStore.applyBatch(spark, docs((4L, "z z z z", "s2")),
      "tk_store", cap, batchId = 2L)
    assert(top()("s2") == Seq(("z", 4L), ("x", 2L), ("y", 1L)))
    // pop: immediate exclusion, sticky until compact, physical drop
    TopKStore.pop(spark, "tk_store", Seq("s1").toDF("source"))
    assert(!top().contains("s1"))
    TopKStore.applyBatch(spark, docs((5L, "q q", "s1")),
      "tk_store", cap, batchId = 3L)
    assert(!top().contains("s1"), "takedown must be sticky until compact")
    TopKStore.compact(spark, "tk_store", cap)
    assert(spark.table("tk_store").select("source").distinct()
      .collect().map(_.getString(0)).toSet == Set("s2"),
      "compact must physically drop the popped source's rows")
    assert(!spark.catalog.tableExists("tk_store_dels"),
      "compact must retire the tombstones")
    assert(top()("s2") == Seq(("z", 4L), ("x", 2L), ("y", 1L)))
  }

  // r13: the quantile store — the TopKStore version-accounting
  // discipline at KLL grain (a weighted multiset merged twice
  // double-weights, MG's hazard not KMV's immunity)
  test("quantile store: version-accounted fold replay-proof, pop, compact; exact regime") {
    import spark.implicits._
    import graft.sources.QuantileStore
    Seq("ql_store", "ql_store_dels").foreach(dropTable)
    val k = 64 // every source's doc count stays << k: quantiles EXACT
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    val b0 = docs((1L, "a a a b b c", "s1"), (2L, "x x y", "s2"))
    val b1 = docs((3L, "b b b c", "s1"))
    QuantileStore.applyBatch(spark, b0, "ql_store", k, batchId = 0L)
    QuantileStore.applyBatch(spark, b1, "ql_store", k, batchId = 1L)
    def q(): Map[String, (Long, Long)] =
      QuantileStore.readQuantiles(spark, "ql_store", k, Seq(0.5, 1.0))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // s1 token counts {6, 4}: p50 = ceil(.5·2)=1st = 4, p100 = 6
    val t0 = q()
    assert(t0 == Map("s1" -> ((4L, 6L)), "s2" -> ((3L, 3L))), t0.toString)
    // a replayed batch (same batchId, different partitioning) is a
    // no-op: the (source, ver) dedup keeps one row
    QuantileStore.applyBatch(spark, b1.repartition(5), "ql_store", k,
      batchId = 1L)
    assert(q() == t0, "replayed batch double-weighted")
    // compact folds to one row per source; served quantiles invariant
    QuantileStore.compact(spark, "ql_store", k)
    assert(q() == t0, "compact moved the quantiles")
    assert(spark.table("ql_store").groupBy("source").count()
      .collect().forall(_.getLong(1) == 1L), "compact folds to 1 row/source")
    // a raw batch replayed AFTER the compact that folded it sits
    // behind the folded row's version horizon — still a no-op
    QuantileStore.applyBatch(spark, b1, "ql_store", k, batchId = 1L)
    assert(q() == t0, "post-compact replay double-weighted")
    // a FRESH batch past the horizon lands normally
    QuantileStore.applyBatch(spark, docs((4L, "z z z z z", "s2")),
      "ql_store", k, batchId = 2L)
    assert(q()("s2") == ((3L, 5L)), q().toString)
    // pop: immediate exclusion, sticky until compact, physical drop
    QuantileStore.pop(spark, "ql_store", Seq("s1").toDF("source"))
    assert(!q().contains("s1"))
    QuantileStore.applyBatch(spark, docs((5L, "q q", "s1")),
      "ql_store", k, batchId = 3L)
    assert(!q().contains("s1"), "takedown must be sticky until compact")
    QuantileStore.compact(spark, "ql_store", k)
    assert(spark.table("ql_store").select("source").distinct()
      .collect().map(_.getString(0)).toSet == Set("s2"),
      "compact must physically drop the popped source's rows")
    assert(!spark.catalog.tableExists("ql_store_dels"),
      "compact must retire the tombstones")
    assert(q()("s2") == ((3L, 5L)))
  }

  // r13: the exact-bitmap store — union algebra absorbs replays, the
  // version horizon protects the USER-grain delete (the forget no
  // sketch store can do exactly)
  test("bitmap store: exact audiences, replay-immune, user takedown scrubs physically") {
    import spark.implicits._
    import graft.sources.BitmapStore
    Seq("bm_store", "bm_store_dels").foreach(dropTable)
    def ev(rows: (String, Long)*) = rows.toDF("event_type", "user_id")
    BitmapStore.applyBatch(spark, ev(("view", 1L), ("view", 2L),
      ("click", 2L)), "bm_store", batchId = 0L)
    BitmapStore.applyBatch(spark, ev(("view", 3L), ("click", 2L)),
      "bm_store", batchId = 1L)
    def aud(): Map[String, Long] =
      BitmapStore.readAudience(spark, "bm_store").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aud() == Map("view" -> 3L, "click" -> 1L))
    // replayed batch rows: set union absorbs them with NO version
    // dedup (the SketchStore immunity)
    BitmapStore.applyBatch(spark, ev(("view", 3L), ("click", 2L)),
      "bm_store", batchId = 1L)
    assert(aud() == Map("view" -> 3L, "click" -> 1L), "replay moved bits")
    // user-grain takedown: immediate masking at every face
    BitmapStore.popUsers(spark, "bm_store", Seq(2L).toDF("user_id"))
    assert(aud() == Map("view" -> 2L, "click" -> 0L))
    // compact scrubs PHYSICALLY and retires the tombstones
    BitmapStore.compact(spark, "bm_store")
    assert(!spark.catalog.tableExists("bm_store_dels"))
    assert(aud() == Map("view" -> 2L, "click" -> 0L))
    // decode check the honest way: rebuild user 2's singleton bitmap
    // via the aggregate and intersect with every stored row
    val single = Seq(2L).toDF("user_id")
      .agg(graft.functions.Bitmap.bitmap(col("user_id")).as("bm"))
      .collect()(0).getSeq[Long](0)
    val leak = spark.table("bm_store")
      .select(graft.functions.Bitmap.bitmapAndCount(col("bm"),
        typedLit(single)).as("x"))
      .collect().map(_.getLong(0)).sum
    assert(leak == 0L, "popped user's bits survived the compact")
    // post-compact replay of the folded batch: behind the version
    // horizon — scrubbed stays scrubbed even with tombstones retired
    BitmapStore.applyBatch(spark, ev(("view", 3L), ("click", 2L)),
      "bm_store", batchId = 1L)
    assert(aud() == Map("view" -> 2L, "click" -> 0L),
      "post-compact replay resurrected a scrubbed user")
    // a FRESH batch past the horizon lands normally (user 2 may
    // legitimately return)
    BitmapStore.applyBatch(spark, ev(("click", 9L)), "bm_store",
      batchId = 2L)
    assert(aud() == Map("view" -> 2L, "click" -> 1L))
    // compact is idempotent
    BitmapStore.compact(spark, "bm_store")
    BitmapStore.compact(spark, "bm_store")
    assert(aud() == Map("view" -> 2L, "click" -> 1L))
  }

  // The summary stores share one visibility rule: the compact stamps
  // one fold horizon on the whole table, so a batch replayed after the
  // compact that dropped a popped source cannot bring the source back.
  test("summary stores: a pre-compact batch replayed after compact keeps a popped source gone") {
    import spark.implicits._
    import graft.sources.{QuantileStore, SketchStore, TopKStore}
    val k = 64
    final case class Face(
        apply: (org.apache.spark.sql.DataFrame, String, Long) => Unit,
        pop: (String, org.apache.spark.sql.DataFrame) => Unit,
        compact: String => Unit,
        read: String => org.apache.spark.sql.DataFrame)
    val faces = Seq(
      "sketch" -> Face(SketchStore.applyBatch(spark, _, _, k, _),
        SketchStore.pop(spark, _, _), SketchStore.compact(spark, _, k),
        SketchStore.readEstimates(spark, _, k)),
      "topk" -> Face(TopKStore.applyBatch(spark, _, _, k, _),
        TopKStore.pop(spark, _, _), TopKStore.compact(spark, _, k),
        TopKStore.readTopK(spark, _, 3, k)),
      "quantile" -> Face(QuantileStore.applyBatch(spark, _, _, k, _),
        QuantileStore.pop(spark, _, _), QuantileStore.compact(spark, _, k),
        QuantileStore.readQuantiles(spark, _, k)))
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    val b0 = docs((1L, "alpha beta gamma delta", "s1"),
      (2L, "eta theta iota kappa", "s2"))
    for ((name, f) <- faces) {
      val t = s"replay_pop_$name"
      Seq(t, s"${t}_dels").foreach(dropTable)
      def sources(): Set[String] =
        f.read(t).select("source").as[String].collect().toSet
      f.apply(b0, t, 0L)
      f.apply(docs((3L, "lambda mu nu xi", "s2")), t, 1L)
      f.pop(t, Seq("s1").toDF("source"))
      f.compact(t)
      assert(!spark.catalog.tableExists(s"${t}_dels"), name)
      f.apply(b0, t, 0L) // at-least-once redelivery of batch 0
      assert(sources() == Set("s2"),
        s"$name: post-compact replay resurrected a popped source")
      // a fresh batch past the horizon lands: s1 may legitimately return
      f.apply(docs((4L, "omicron pi rho sigma", "s1")), t, 2L)
      assert(sources() == Set("s1", "s2"), name)
    }
  }

  // Read-face plan shapes: the horizon and the per-(key, ver, folded)
  // dedup ride the fold's one exchange; tombstones add the request-
  // bounded distinct and its broadcast.
  test("summary store read faces: one exchange for the fold, one broadcast per tombstone mask") {
    import spark.implicits._
    import graft.sources.{BitmapStore, QuantileStore, SketchStore, TopKStore}
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      (PlanCounters.shuffles(plan), PlanCounters.broadcasts(plan))
    }
    val k = 64
    val docs = Seq((1L, "a a b c", "s1"), (2L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val reads = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "plan_sk" -> (SketchStore.readEstimates(spark, _, k)),
      "plan_tk" -> (TopKStore.readTopK(spark, _, 3, k)),
      "plan_ql" -> (QuantileStore.readQuantiles(spark, _, k)))
    reads.foreach { case (t, _) => Seq(t, s"${t}_dels").foreach(dropTable) }
    SketchStore.applyBatch(spark, docs, "plan_sk", k, 0L)
    TopKStore.applyBatch(spark, docs, "plan_tk", k, 0L)
    QuantileStore.applyBatch(spark, docs, "plan_ql", k, 0L)
    for ((t, read) <- reads) assert(shape(read(t)) == ((1, 0)), t)
    SketchStore.pop(spark, "plan_sk", Seq("s1").toDF("source"))
    TopKStore.pop(spark, "plan_tk", Seq("s1").toDF("source"))
    QuantileStore.pop(spark, "plan_ql", Seq("s1").toDF("source"))
    for ((t, read) <- reads) assert(shape(read(t)) == ((2, 1)), t)
    Seq("plan_bm", "plan_bm_dels").foreach(dropTable)
    BitmapStore.applyBatch(spark, Seq(("view", 1L), ("click", 2L))
      .toDF("event_type", "user_id"), "plan_bm", 0L)
    assert(shape(BitmapStore.readAudience(spark, "plan_bm")) == ((2, 1)))
    BitmapStore.popUsers(spark, "plan_bm", Seq(2L).toDF("user_id"))
    assert(shape(BitmapStore.readAudience(spark, "plan_bm")) == ((2, 1)))
  }

  // A pop that lands while a compact runs — after its tombstone
  // snapshot — must survive the compact's retirement step and keep
  // masking reads until the next compact. The pop is injected on the
  // compacting thread when the compact re-points the live table at its
  // rewritten rows (the catalog's AlterTableEvent is posted
  // synchronously), i.e. between the snapshot and the retirement.
  test("inline compacts keep a pop that lands mid-compact (doc, vec, vec re-assignment)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.catalog.{AlterTableEvent,
      ExternalCatalogEvent, ExternalCatalogEventListener}
    import graft.sources.{DocStore, VecStore}
    def popMidCompact(table: String, pop: () => Unit)(compact: => Unit) = {
      var fired = false
      val listener = new ExternalCatalogEventListener {
        def onEvent(e: ExternalCatalogEvent): Unit = e match {
          case AlterTableEvent(_, `table`, "table") if !fired =>
            fired = true
            pop()
          case _ =>
        }
      }
      val catalog = spark.sharedState.externalCatalog
      catalog.addListener(listener)
      try compact
      finally catalog.removeListener(listener)
      assert(fired, s"$table: the compact never swapped the live table")
    }
    // doc store
    Seq("doc_midpop", "doc_midpop_bands", "doc_midpop_dels")
      .foreach(dropTable)
    DocStore.append(Seq((1L, "one two three four five six", "s"),
      (2L, "seven eight nine ten eleven twelve", "s"),
      (3L, "thirteen fourteen fifteen sixteen seventeen", "s"))
      .toDF("doc_id", "text", "source"), "doc_midpop", buckets = 4)
    DocStore.popIds(spark, "doc_midpop", Seq(1L).toDF("doc_id"))
    popMidCompact("doc_midpop",
      () => DocStore.popIds(spark, "doc_midpop", Seq(2L).toDF("doc_id")))(
      DocStore.compact(spark, "doc_midpop"))
    assert(spark.catalog.tableExists("doc_midpop_dels"),
      "a pop that landed mid-compact was retired with the snapshot")
    assert(DocStore.readFinal(spark, "doc_midpop").select("doc_id")
      .as[Long].collect().toSet == Set(3L))
    DocStore.compact(spark, "doc_midpop")
    assert(!spark.catalog.tableExists("doc_midpop_dels"))
    assert(DocStore.read(spark, "doc_midpop").count() == 1)
    // vec store: the inline compact and the corpus re-assignment
    // behind treeify/untreeify/migrate
    val emb = Tables.load(spark, sf, "embeddings")
    val ids = emb.select("vec_id").as[Long].collect().sorted.take(2)
    val rewrites = Seq[(String, String => Unit)](
      "vec_midpop_compact" -> (VecStore.compact(spark, _)),
      "vec_midpop_treeify" -> { t =>
        VecStore.treeify(spark, t, topCount = 3); () })
    for ((t, rewrite) <- rewrites) {
      Seq(t, s"${t}_cents", s"${t}_tops", s"${t}_leafmap", s"${t}_pq",
        s"${t}_codes", s"${t}_dels").foreach(dropTable)
      VecStore.init(spark, t, emb, col("label"), buckets = 4)
      VecStore.popIds(spark, t, Seq(ids(0)).toDF("vec_id"))
      popMidCompact(t,
        () => VecStore.popIds(spark, t, Seq(ids(1)).toDF("vec_id")))(
        rewrite(t))
      assert(spark.catalog.tableExists(s"${t}_dels"), t)
      val live = VecStore.readFinal(spark, t).select("vec_id").as[Long]
        .collect().toSet
      assert(!live(ids(0)) && !live(ids(1)), t)
      assert(live.size == emb.count() - 2, t)
    }
  }

  // A first pop writes its files before it registers `<table>_dels` in
  // the catalog. A compact that found no tombstones must not clear that
  // name: the in-flight pop's files stay where its registration will
  // point.
  test("summary compacts keep a first pop still writing after an empty tombstone snapshot") {
    import spark.implicits._
    import graft.sources.{BitmapStore, SketchStore, TopKStore}
    val docs = Seq((1L, "alpha beta gamma", "s1"), (2L, "delta eta", "s2"))
      .toDF("doc_id", "text", "source")
    val compacts = Seq[(String, String => Unit, String => Unit)](
      ("first_pop_sk", SketchStore.applyBatch(spark, docs, _, 64, 0L),
        SketchStore.compact(spark, _, 64)),
      ("first_pop_tk", TopKStore.applyBatch(spark, docs, _, 64, 0L),
        TopKStore.compact(spark, _, 64)),
      ("first_pop_bm", BitmapStore.applyBatch(spark,
        Seq(("view", 1L)).toDF("event_type", "user_id"), _, 0L),
        BitmapStore.compact(spark, _)))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    for ((t, apply, compact) <- compacts) {
      Seq(t, s"${t}_dels").foreach(dropTable)
      apply(t)
      val inFlight = new java.io.File(wh, s"${t}_dels")
      Seq("s1").toDF("source").write.parquet(inFlight.getPath)
      val files = inFlight.list().toSet
      compact(t)
      assert(inFlight.exists() && files.subsetOf(inFlight.list().toSet),
        s"$t: the compact removed an in-flight first pop")
      Seq(t, s"${t}_dels").foreach(dropTable)
    }
  }

  test("xref store popDataset: judgements excluded, mapping rebuilt at compact") {
    import spark.implicits._
    Seq("xref_pop", "xref_pop_reverse", "xref_pop_mapping",
      "xref_pop_dsdels").foreach(dropTable)
    val mkd = (lds: String, l: String, rds: String, r: String,
        j: String, ts: Long) =>
      (lds, l, "Person", "de", s"cap-$l", rds, r, "Person", "fr",
        s"cap-$r", j, 0.5, ts, "graft")
    // a(dsA) —positive— b(dsB) —positive— c(dsB): one component; the
    // a-b edge is the only row touching dsA
    XrefStore.applyBatch(spark, Seq(
      mkd("dsA", "a", "dsB", "b", "positive", 1L),
      mkd("dsB", "b", "dsB", "c", "positive", 1L))
      .toDF(Xref.columns: _*), "xref_pop", ver = 1L, buckets = 4)
    def mapping(): Map[String, String] =
      XrefStore.readMapping(spark, "xref_pop").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val pre = mapping()
    assert(pre.keySet == Set("a", "b", "c") && pre.values.toSet.size == 1,
      s"one merged component expected: $pre")
    XrefStore.popDataset(spark, "xref_pop", Seq("dsA").toDF("dataset"))
    // immediate exclusion from every judgement face (either side)
    assert(XrefStore.readLatest(spark, "xref_pop").collect()
      .map(r => (r.getAs[String]("left_id"), r.getAs[String]("right_id")))
      .toSet == Set(("b", "c")))
    assert(XrefStore.lookupByRight(spark, "xref_pop", "b").count() == 0,
      "the dsA-touching judgement must be gone from reverse lookups")
    // the mapping is derived state: stale until compact (documented)
    assert(mapping().keySet == Set("a", "b", "c"))
    XrefStore.compact(spark, "xref_pop")
    // physical drop from main + reverse, tombstones retired, mapping
    // rebuilt by the full resolver over the survivors — the popped
    // dataset's entity is GONE from readMapping
    assert(XrefStore.read(spark, "xref_pop").count() == 1)
    assert(spark.table(XrefStore.reverseTable("xref_pop")).count() == 1)
    assert(!spark.catalog.tableExists("xref_pop_dsdels"))
    val post = mapping()
    assert(post.keySet == Set("b", "c") && post.values.toSet.size == 1,
      s"survivors stay merged, popped entity vanishes: $post")
    // and the rebuilt mapping equals a from-scratch resolver run
    val scratch = Xref.resolverMapping(XrefStore.readLatest(spark, "xref_pop"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(post == scratch)
  }

  test("export → ingest round-trip preserves the entity") {
    import spark.implicits._
    val stmts = Seq(
      ("e1", "e1", "Person", "ds", "name", "name", "Ann"),
      ("e1", "e1", "Person", "ds", "name", "name", "Annie"),
      ("e1", "e1", "Person", "ds", "country", "string", "fr"))
      .toDF("entity_id", "canonical_id", "schema", "dataset", "prop",
        "prop_type", "value")
    FtmJson.exportEntities(stmts, "/tmp/graft_export_spec")
    val back = FtmJson.statements(spark, "/tmp/graft_export_spec",
      Map("name" -> "name"))
    val rows = back.collect()
      .map(r => (r.getAs[String]("prop"), r.getAs[String]("value"))).toSet
    assert(rows == Set(("name", "Ann"), ("name", "Annie"), ("country", "fr")))
    assert(back.select("schema").distinct().collect()(0).getString(0) == "Person")
  }

  test("ftm jsonl round-trip preserves statement rows") {
    import spark.implicits._
    val entities = Seq(
      ("p1", "Person", Seq("dsx"), Map("name" -> Seq("Ann", "Annie"), "country" -> Seq("fr"))))
      .toDF("id", "schema", "datasets", "properties")
    FtmJson.writeEntities(entities, "/tmp/graft_ftm_spec")
    val stmts = FtmJson.statements(spark, "/tmp/graft_ftm_spec",
      Map("name" -> "name")).collect()
    assert(stmts.length == 3)
    val byProp = stmts.groupBy(_.getAs[String]("prop"))
    assert(byProp("name").map(_.getAs[String]("value")).toSet == Set("Ann", "Annie"))
    assert(byProp("name").head.getAs[String]("prop_type") == "name")
    assert(byProp("country").head.getAs[String]("prop_type") == "string")
  }

  test("doc store: double-insert index, incremental probe, compact rebuild") {
    import spark.implicits._
    import graft.sources.DocStore
    dropTable("doc_spec")
    dropTable("doc_spec_bands")
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val stored = Seq(
      (1L, textA, "s"),
      (2L, "completely different content with no shared phrases at all", "s"),
      (3L, "a third unrelated document mentioning other things entirely", "s"))
      .toDF("doc_id", "text", "source")
    DocStore.append(stored, "doc_spec", buckets = 4)
    // double insert: one index row per (doc, band) — 6 bands at 12/2
    assert(DocStore.bands(spark, "doc_spec").count() == 3L * 6)
    // the probe: a near-twin of stored doc 1, a novel doc, and stored
    // doc 1 itself (self-match must be excluded by id)
    val newDocs = Seq(
      (10L, textA, "s"),
      (11L, "novel text with fresh vocabulary nothing before matches", "s"),
      (1L, textA, "s"))
      .toDF("doc_id", "text", "source")
    val cands = DocStore.nearDupCandidates(spark, "doc_spec", newDocs)
    assert(cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L)))
    // probe plan: the batch keys broadcast onto ONE stored-index scan;
    // nothing below the first aggregate may shuffle the corpus side
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"batch keys must broadcast onto the stored index:\n$plan")
    // FINAL read dedups a re-delivery (in-bucket, no Exchange)
    DocStore.append(stored, "doc_spec", buckets = 4)
    assert(DocStore.read(spark, "doc_spec").count() == 6L)
    assert(DocStore.readFinal(spark, "doc_spec").count() == 3L)
    val finalPlan = DocStore.readFinal(spark, "doc_spec")
      .queryExecution.executedPlan.toString
    assert(!finalPlan.contains("Exchange"),
      s"FINAL over the id-bucketed store must not shuffle:\n$finalPlan")
    // compact: durable dedup, index rebuilt from the deduped docs,
    // probe still answers identically
    DocStore.compact(spark, "doc_spec")
    assert(DocStore.read(spark, "doc_spec").count() == 3L)
    assert(DocStore.bands(spark, "doc_spec").count() == 3L * 6)
    assert(DocStore.nearDupCandidates(spark, "doc_spec", newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L)))
    // on the sf corpus, with re-keyed copies as the batch (every batch
    // doc collides in every band): index-probe candidates ⊆ the full
    // d3 re-block's stored×batch pairs. The probe bounds DISTINCT
    // STORED docs per key (≤ 1000) while the re-block bounds the UNION
    // bucket, which also holds the colliding batch docs — so the
    // re-block gets that much headroom, or a bucket the probe kept
    // could drop wholesale from the reference set
    Seq("doc_spec_sf", "doc_spec_sf_bands").foreach(dropTable)
    val corpus = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    DocStore.append(corpus, "doc_spec_sf", buckets = 4)
    val maxId = corpus.agg(max(col("doc_id"))).head().getLong(0)
    val nBatch = 100
    val batch = corpus.filter(col("doc_id") < nBatch)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
    val probed = DocStore.nearDupCandidates(spark, "doc_spec_sf", batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossPairs = graft.operators.Dedup
      .minhashLsh(corpus.unionByName(batch), maxBucket = 1000 + nBatch)
      .filter(col("right_id") > maxId && col("left_id") <= maxId)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.exists { case (s, b) => b == s + maxId + 1 },
      "re-keyed copies must find their stored twins")
    assert(probed.subsetOf(crossPairs),
      s"probe pairs not in the full re-block: ${probed -- crossPairs}")
  }

  // r13: the incremental face of exact-substring dedup (d14). The
  // anchor index is the store's third table; the probe must equal the
  // BATCH algorithm on the union corpus restricted to stored×batch
  // pairs — run geometry included — and survive append/pop/compact.
  test("doc store anchors: dupSpanCandidates ≡ batch d14 restricted to " +
    "stored×batch; maintained through append, pop, compact") {
    import spark.implicits._
    import graft.sources.DocStore
    import graft.operators.Dedup
    for (t <- Seq("doc_anch", "doc_anch_bands", "doc_anch_anchors",
      "doc_anch_anchorsmeta", "doc_anch_dels")) dropTable(t)
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 60).map(i => s"w$i")
    def randText(n: Int): Vector[String] =
      Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    // stored corpus: 20 random docs; batch: 8 docs, half carrying
    // verbatim slices of stored docs (the planted runs), plus one
    // boilerplate gram repeated across MANY stored docs to exercise
    // the df cap identically on both paths
    val boiler = Vector("b1", "b2", "b3", "b4", "b5", "b6")
    val storedTok = (0L until 20L).map { i =>
      val base = randText(40)
      // docs 0-11 all carry the boilerplate run → df(boiler grams) = 12+
      i -> (if (i < 12) base.take(20) ++ boiler ++ base.drop(20) else base)
    }.toMap
    val batchTok = (100L until 108L).map { i =>
      val base = randText(30)
      val planted = if (i % 2 == 0) {
        val src = storedTok(i % 20)
        val at = rnd.nextInt(src.length - 10)
        base.take(10) ++ src.slice(at, at + 10) ++ base.drop(10)
      } else base
      i -> (if (i == 101L) planted.take(5) ++ boiler ++ planted.drop(5)
            else planted)
    }.toMap
    val stored = storedTok.toSeq.map { case (id, ws) =>
      (id, ws.mkString(" "), "s") }.toDF("doc_id", "text", "source")
    val batch = batchTok.toSeq.map { case (id, ws) =>
      (id, ws.mkString(" "), "s") }.toDF("doc_id", "text", "source")
    val (k, minRun, maxDf) = (4, 6, 8)
    DocStore.append(stored, "doc_anch", buckets = 4)
    assert(!DocStore.hasAnchors(spark, "doc_anch"))
    DocStore.initAnchors(spark, "doc_anch", k = k)
    assert(DocStore.hasAnchors(spark, "doc_anch") &&
      DocStore.anchorK(spark, "doc_anch") == k)
    // the oracle: batch d14 over the union, restricted to pairs with
    // one stored and one batch side, re-oriented to store/batch order
    def restricted(): Set[(Long, Long, Long, Long, Long)] =
      Dedup.dupSpans(stored.union(batch), k, minRun, maxDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .collect {
          case (a, b, sa, sb, len) if a < 100L && b >= 100L =>
            (a, b, sa, sb, len)
          case (a, b, sa, sb, len) if a >= 100L && b < 100L =>
            (b, a, sb, sa, len)
        }.toSet
    def probe(): Set[(Long, Long, Long, Long, Long)] =
      DocStore.dupSpanCandidates(spark, "doc_anch", batch, minRun, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val want = restricted()
    assert(want.nonEmpty, "fixture must plant at least one run")
    assert(want.exists(_._5 >= 10L), "a planted 10-token run must survive")
    assert(probe() == want)
    // plan: the batch side broadcasts; the stored index never shuffles
    val plan = DocStore
      .dupSpanCandidates(spark, "doc_anch", batch, minRun, maxDf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"probed hashes must broadcast onto the index scan:\n$plan")
    // maintenance: append keeps the index in step automatically
    val extra = Seq((50L, batchTok(100L).mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    DocStore.append(extra, "doc_anch", buckets = 4)
    val afterAppend = probe()
    assert(afterAppend.exists(_._1 == 50L),
      "an appended twin of a batch doc must pair with it")
    // pop: a taken-down doc leaves the candidate space immediately
    DocStore.pop(spark, "doc_anch", Seq(50L).toDF("doc_id"))
    assert(probe() == want, "popped doc must vanish from candidates")
    // compact: anchors rebuilt from FINAL docs; answers unchanged
    DocStore.compact(spark, "doc_anch")
    assert(probe() == want)
    assert(spark.table("doc_anch_anchors")
      .filter(col("doc_id") === 50L).count() == 0L,
      "compact must physically drop the popped doc's anchor rows")
    // misuse guards
    assertThrows[IllegalArgumentException] {
      DocStore.dupSpanCandidates(spark, "doc_anch", batch, minRun = k - 1)
    }
  }

  // r12: the file-count pin behind BucketedLayout. Spark's bucketBy
  // writer emits one file per (task × partition × bucket); without the
  // pre-write layout shuffle a 16-split source writes 16× the files
  // and pruned reads drown in opens (the probe-store finding: 1,600 →
  // 330k files). Every store write must hold this bound.
  test("bucketed writes emit one file per bucket regardless of source splits") {
    import spark.implicits._
    import graft.sources.{DocStore, VecStore}
    Seq("layout_docs", "layout_docs_bands", "layout_vecs",
      "layout_vecs_cents").foreach(dropTable)
    val docs = (1L to 64L)
      .map(i => (i, s"document number $i with some words to shingle on", "s"))
      .toDF("doc_id", "text", "source")
      .repartition(16) // a many-split source — the regression trigger
    DocStore.append(docs, "layout_docs", buckets = 4)
    assert(spark.table("layout_docs").inputFiles.length == 4,
      "doc store must write exactly one file per bucket")
    assert(spark.table("layout_docs_bands").inputFiles.length <= 4,
      "band index must write at most one file per non-empty bucket")
    // a SECOND append adds at most one file per bucket again
    DocStore.append(docs.filter(col("doc_id") <= 8L), "layout_docs",
      buckets = 4)
    assert(spark.table("layout_docs").inputFiles.length <= 8)
    // the partitioned vector store: at most one file per non-empty
    // (list, bucket)
    val emb = Tables.load(spark, sf, "embeddings").repartition(16)
    VecStore.init(spark, "layout_vecs", emb, col("label"), buckets = 4)
    val lists = VecStore.centroids(spark, "layout_vecs").count()
    val vfiles = spark.table("layout_vecs").inputFiles.length
    assert(vfiles <= lists * 4,
      s"vector store wrote $vfiles files for $lists lists x 4 buckets")
  }

  // r12: the out-of-band compact split. The heavy stage build runs
  // while appends (and pops) keep landing; the cheap finish catches up
  // the delta, swaps, and retires tombstones ONLY when none landed
  // after the stage snapshot. Everything appended mid-build survives;
  // everything popped mid-build stays hidden.
  test("doc store compactStage/compactFinish: delta catch-up, mid-build pop stays sticky") {
    import spark.implicits._
    import graft.sources.DocStore
    Seq("doc_oob", "doc_oob_bands", "doc_oob_dels").foreach(dropTable)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content with no shared phrases at all"
    DocStore.append(
      Seq((1L, textA, "s"), (2L, textB, "s")).toDF("doc_id", "text", "source"),
      "doc_oob", buckets = 4)
    // bloat: re-deliver doc 1
    DocStore.append(
      Seq((1L, textA, "s")).toDF("doc_id", "text", "source"),
      "doc_oob", buckets = 4)
    assert(DocStore.read(spark, "doc_oob").count() == 3L)
    // phase 1: the heavy build — live tables untouched, still serving
    val st = DocStore.compactStage(spark, "doc_oob")
    assert(DocStore.read(spark, "doc_oob").count() == 3L,
      "stage build must not touch the live table")
    assert(spark.table(st.docsTmp).count() == 2L,
      "stage must hold the FINAL rows")
    // mid-build events: an append the stage missed, and a takedown
    DocStore.append(
      Seq((4L, "a brand new document that arrived during the rewrite", "s"))
        .toDF("doc_id", "text", "source"), "doc_oob", buckets = 4)
    DocStore.pop(spark, "doc_oob",
      Seq(2L).toDF("doc_id"))
    // phase 2: append-bounded finish — delta caught up, swap, pop sticky
    DocStore.compactFinish(spark, "doc_oob", st)
    assert(DocStore.readFinal(spark, "doc_oob")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L),
      "delta doc must survive; replay collapsed; mid-build pop hidden")
    assert(DocStore.bands(spark, "doc_oob")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L),
      "index covers stage+delta docs; the mid-build pop's rows shed " +
        "at the NEXT compact (its tombstone was retained)")
    // ...but the serving face excludes the popped doc regardless
    assert(DocStore.nearDupCandidates(spark, "doc_oob",
      Seq((20L, textB, "s")).toDF("doc_id", "text", "source"))
      .collect().isEmpty,
      "mid-build pop must stay hidden from the probe face")
    // the mid-build tombstone landed AFTER the stage snapshot — it
    // must be RETAINED (the stage never honored it physically)
    assert(spark.catalog.tableExists("doc_oob_dels"),
      "tombstones newer than the stage snapshot must not retire")
    // the next (inline) compact physically drops doc 2 and retires
    DocStore.compact(spark, "doc_oob")
    assert(DocStore.read(spark, "doc_oob")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(!spark.catalog.tableExists("doc_oob_dels"))
    // a quiet build (no mid-build events) retires tombstones directly
    DocStore.pop(spark, "doc_oob", Seq(4L).toDF("doc_id"))
    val st2 = DocStore.compactStage(spark, "doc_oob")
    DocStore.compactFinish(spark, "doc_oob", st2)
    assert(DocStore.read(spark, "doc_oob")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "pre-stage pop must drop physically at finish")
    assert(!spark.catalog.tableExists("doc_oob_dels"),
      "an unchanged tombstone set retires at finish")
  }

  // r11: the takedown path — the corpus-store delete the statement
  // store's tombstones already have. Popped ids leave every read face
  // immediately, drop physically (index rows included) at compact,
  // and stay popped across a re-delivered append.
  test("doc store pop: immediate exclusion, compact drops docs AND index rows, tombstones retire") {
    import spark.implicits._
    import graft.sources.DocStore
    Seq("doc_pop", "doc_pop_bands", "doc_pop_dels").foreach(dropTable)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val stored = Seq(
      (1L, textA, "s"),
      (2L, "completely different content with no shared phrases at all", "s"),
      (3L, "a third unrelated document mentioning other things entirely", "s"))
      .toDF("doc_id", "text", "source")
    DocStore.append(stored, "doc_pop", buckets = 4)
    val newDocs = Seq((10L, textA, "s")).toDF("doc_id", "text", "source")
    def cands(): Set[(Long, Long)] =
      DocStore.nearDupCandidates(spark, "doc_pop", newDocs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands() == Set((1L, 10L)))
    val popped = DocStore.pop(spark, "doc_pop", Seq(1L).toDF("doc_id"))
    assert(popped.collect().map(_.getLong(0)).toSet == Set(1L))
    // every read face excludes the popped id BEFORE any compaction
    assert(DocStore.readFinal(spark, "doc_pop")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(cands().isEmpty)
    // sticky: a re-delivered copy of the popped doc stays hidden and
    // is dropped by the compact below
    DocStore.append(Seq((1L, textA, "s")).toDF("doc_id", "text", "source"),
      "doc_pop", buckets = 4)
    assert(DocStore.readFinal(spark, "doc_pop").count() == 2)
    assert(cands().isEmpty)
    // compact: doc rows and their band index rows physically gone, the
    // counts reconcile (6 bands per surviving doc), dels retired
    DocStore.compact(spark, "doc_pop")
    assert(DocStore.read(spark, "doc_pop").count() == 2)
    assert(DocStore.bands(spark, "doc_pop").count() == 2L * 6)
    assert(!spark.catalog.tableExists("doc_pop_dels"))
    assert(cands().isEmpty)
    // the crash-before-retire state (tombstones naming already-removed
    // ids) is a no-op anti-join, never a resurrection or an error
    assert(DocStore.pop(spark, "doc_pop", Seq(1L).toDF("doc_id"))
      .count() == 0)
    assert(DocStore.readFinal(spark, "doc_pop").count() == 2)
    // after compaction the id is free to ingest again
    DocStore.compact(spark, "doc_pop")
    DocStore.append(Seq((1L, textA, "s")).toDF("doc_id", "text", "source"),
      "doc_pop", buckets = 4)
    assert(DocStore.readFinal(spark, "doc_pop").count() == 3)
    assert(cands() == Set((1L, 10L)))
  }

  // r10: the ONE crash that matters for a double-insert write path is
  // the one BETWEEN the two inserts. Drive every multi-table store
  // through it in a single spec — a regular file squatting on the
  // SECOND table's location makes that insert throw after the first
  // landed, which is exactly the crash state — and assert each
  // store's documented direction: the failure is LOUD (append
  // throws, nothing is silently swallowed), the surviving state is
  // the documented safe side, and plain re-delivery repairs it (the
  // at-least-once contract every streaming ingest already relies on).
  test("crash between inserts: every store fails loud, lands its documented side, repairs on re-delivery") {
    import spark.implicits._
    import graft.sources.{DocStore, VecStore}
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

    // --- DocStore: INDEX first. Orphan index rows are the loud
    // direction (candidates referencing absent docs die at text
    // verification); docs-without-index would be silent false
    // negatives on every later probe.
    Seq("crash_docs", "crash_docs_bands").foreach(dropTable)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s"),
      (2L, "completely different content with no shared phrases", "s"))
      .toDF("doc_id", "text", "source")
    assert(new java.io.File(wh, "crash_docs").createNewFile())
    intercept[Exception] { DocStore.append(docs, "crash_docs", buckets = 4) }
    assert(spark.table("crash_docs_bands").count() == 2L * 6,
      "the index (first insert) must have landed before the crash")
    assert(!spark.catalog.tableExists("crash_docs"),
      "the docs (second insert) must not exist after the crash")
    assert(new java.io.File(wh, "crash_docs").delete())
    DocStore.append(docs, "crash_docs", buckets = 4)
    assert(DocStore.readFinal(spark, "crash_docs").count() == 2)
    // replayed index rows are duplicates the probe's set build absorbs;
    // compact makes the repair durable and exact
    DocStore.compact(spark, "crash_docs")
    assert(DocStore.bands(spark, "crash_docs").count() == 2L * 6)

    // --- XrefStore: MAIN (source of truth) first. The projection can
    // only LAG (reverse ⊆ main — stale lookups until repair), never
    // hold phantom judgements main does not have.
    Seq("crash_xref", "crash_xref_reverse").foreach(dropTable)
    val mk = (l: String, r: String, j: String, ts: Long) =>
      ("ds", l, "Person", "de", s"cap-$l", "ds", r, "Person", "fr",
        s"cap-$r", j, 0.5, ts, "graft")
    val xref = Seq(mk("a", "b", "positive", 1L)).toDF(Xref.columns: _*)
    assert(new java.io.File(wh, "crash_xref_reverse").createNewFile())
    intercept[Exception] {
      graft.sources.XrefStore.append(xref, "crash_xref", buckets = 4)
    }
    assert(spark.table("crash_xref").count() == 1,
      "main (first insert) must have landed before the crash")
    assert(!spark.catalog.tableExists("crash_xref_reverse"))
    assert(new java.io.File(wh, "crash_xref_reverse").delete())
    graft.sources.XrefStore.append(xref, "crash_xref", buckets = 4)
    // re-delivery dupes collapse in the FINAL window on both sides
    assert(graft.sources.XrefStore.readLatest(spark, "crash_xref")
      .count() == 1)
    assert(graft.sources.XrefStore.lookupByRight(spark, "crash_xref", "b")
      .count() == 1)

    // --- Statements + fpx (the st8/Cli double insert): STATEMENTS
    // (source of truth) first. A crash leaves the blocking index
    // behind (missed xref candidates until repair) but never fpx rows
    // pointing at statements that do not exist.
    Seq("crash_stmt", "crash_stmt_fpx").foreach(dropTable)
    val stmts = sampleStatements
    assert(new java.io.File(wh, "crash_stmt_fpx").createNewFile())
    intercept[Exception] {
      StatementStore.append(stmts, "crash_stmt", buckets = 4)
      FpxStore.append(
        Fpx.fromStatements(stmts, schemas = Fpx.DefaultSchemas),
        "crash_stmt_fpx", buckets = 4)
    }
    assert(spark.table("crash_stmt").count() == 4,
      "statements (first insert) must have landed before the crash")
    assert(!spark.catalog.tableExists("crash_stmt_fpx"))
    assert(new java.io.File(wh, "crash_stmt_fpx").delete())
    StatementStore.append(stmts, "crash_stmt", buckets = 4)
    FpxStore.append(
      Fpx.fromStatements(stmts, schemas = Fpx.DefaultSchemas),
      "crash_stmt_fpx", buckets = 4)
    assert(StatementStore.readFinal(spark, "crash_stmt").count() == 3,
      "re-delivered statements must collapse at FINAL")
    assert(spark.table("crash_stmt_fpx").count() > 0)

    // --- VecStore: NO second table to drift — the inverted-list index
    // is the partition layout of the one vector table. The only
    // multi-write is init's (cents, corpus) pair, and a crash between
    // them leaves a store every read/probe refuses LOUDLY (the table
    // does not resolve) rather than answering incompletely.
    Seq("crash_vec", "crash_vec_cents").foreach(dropTable)
    val vecs = Tables.load(spark, sf, "embeddings")
    assert(new java.io.File(wh, "crash_vec").createNewFile())
    intercept[Exception] {
      VecStore.init(spark, "crash_vec", vecs,
        org.apache.spark.sql.functions.col("label"), buckets = 4)
    }
    assert(spark.catalog.tableExists("crash_vec_cents"))
    assert(!spark.catalog.tableExists("crash_vec"))
    intercept[Exception] { VecStore.readFinal(spark, "crash_vec").count() }
    // only init names the corpus table's bucket count, so an append
    // into the crash state refuses too instead of creating a corpus
    // that holds only its batch
    val noCorpus = intercept[IllegalArgumentException] {
      VecStore.append(spark, vecs.select("vec_id", "embedding"), "crash_vec")
    }
    assert(noCorpus.getMessage.contains("`crash_vec` does not exist"))
    assert(new java.io.File(wh, "crash_vec").delete())
    VecStore.init(spark, "crash_vec", vecs,
      org.apache.spark.sql.functions.col("label"), buckets = 4)
    assert(VecStore.readFinal(spark, "crash_vec").count() == vecs.count())
  }

  // r11: the STORE-level twin of PropertySpec's randomized incremental-
  // resolver stream — same contract (served ≡ recompute after every
  // batch) but through the real tables, exercising what the operator
  // spec cannot: the versioned delta appends, the FINAL serve window,
  // the staged-swap recompute on retractions, and ver monotonicity
  // across a mixed stream.
  test("xref mapping store tracks the recompute over a randomized batch stream") {
    import spark.implicits._
    for (t <- Seq("prop_xref", "prop_xref_reverse", "prop_xref_mapping"))
      dropTable(t)
    val rnd = new scala.util.Random(23)
    def xrefRows(
        v: Seq[(String, String, String, Long)]) = {
      val pairs = v.toDF("left_id", "right_id", "judgement0", "ts0")
      Xref.candidates(
        pairs.select(col("left_id"), col("right_id")),
        pairs.select(col("left_id").as("entity_id")).union(
          pairs.select(col("right_id"))).distinct()
          .select(col("entity_id"), lit("ds").as("dataset"),
            lit("P").as("schema"), lit("de").as("country"),
            col("entity_id").as("caption")))
        .drop("judgement", "ts")
        .join(pairs.withColumnRenamed("judgement0", "judgement")
          .withColumnRenamed("ts0", "ts"), Seq("left_id", "right_id"))
        .select(Xref.columns.map(col): _*)
    }
    var ts = 0L
    var history = Vector.empty[(String, String, String, Long)]
    for (step <- 1 to 8) {
      val batch = (0 until 1 + rnd.nextInt(3)).map { _ =>
        ts += 1
        val a = rnd.nextInt(10)
        val b = (a + 1 + rnd.nextInt(9)) % 10
        val j = if (rnd.nextInt(4) == 0) "negative" else "positive"
        (f"e$a%02d", f"e$b%02d", j, ts)
      }
      history ++= batch
      XrefStore.applyBatch(spark, xrefRows(batch), "prop_xref", ver = ts)
      val got = XrefStore.readMapping(spark, "prop_xref").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val expect = Xref.resolverMapping(
        XrefStore.readLatest(spark, "prop_xref")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expect, s"step $step: store=$got recompute=$expect " +
        s"history=$history")
    }
    // compaction mid-history preserves the serve
    val beforeCompact = XrefStore.readMapping(spark, "prop_xref")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    XrefStore.compactMapping(spark, "prop_xref")
    val afterCompact = XrefStore.readMapping(spark, "prop_xref")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(afterCompact == beforeCompact)
    assert(spark.table("prop_xref_mapping").count() == beforeCompact.size)
  }

  test("z-order layout: exact Morton interleave, box pruning beats linear sort") {
    import spark.implicits._
    import graft.sources.ZOrderLayout
    // exact interleave on a hand grid: bits=2, identity bounds [0,3]
    val hand = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
      .select(col("x"), col("y"), ZOrderLayout.zValue(
        Seq(col("x"), col("y")), Seq(0L, 0L), Seq(3L, 3L), bits = 2).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // morton2(x,y) with x at bit 0: (x0,y0,x1,y1)
    def morton(x: Long, y: Long): Long =
      (x & 1) | ((y & 1) << 1) | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3)
    for (((x, y), z) <- hand)
      assert(z == morton(x, y), s"($x,$y): $z != ${morton(x, y)}")
    // three columns interleave at stride 3: (x0,y0,w0,x1,y1,w1)
    val hand3 = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (2L, 0L, 0L), (3L, 3L, 3L), (1L, 2L, 3L))
      .toDF("x", "y", "w")
      .select(col("x"), col("y"), col("w"), ZOrderLayout.zValue(
        Seq(col("x"), col("y"), col("w")), Seq(0L, 0L, 0L),
        Seq(3L, 3L, 3L), bits = 2).as("z"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
    def morton3(x: Long, y: Long, w: Long): Long =
      (x & 1) | ((y & 1) << 1) | ((w & 1) << 2) |
        (((x >> 1) & 1) << 3) | (((y >> 1) & 1) << 4) | (((w >> 1) & 1) << 5)
    for (((x, y, w), z) <- hand3)
      assert(z == morton3(x, y, w), s"($x,$y,$w): $z != ${morton3(x, y, w)}")
    // layout quality: 100k uniform 2-D rows into 16 files under three
    // layouts; row-group stats straight from the footers
    val rnd = new scala.util.Random(3)
    val data = (1 to 100000).map(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("x", "y")
    val base = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString
    data.repartition(16).write.mode("overwrite")
      .parquet(s"$base/unsorted")
    data.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$base/linear")
    ZOrderLayout.write(data, s"$base/zorder", Seq("x", "y"), numFiles = 16)
    // values survive the reorder
    val got = spark.read.parquet(s"$base/zorder")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = data.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want), "z-order lost or mutated rows")
    val yOnly = Map("y" -> ((0L, 4095L)))
    val box = Map("x" -> ((0L, 4095L)), "y" -> ((0L, 4095L)))
    def frac(p: (Int, Int)): Double = p._1.toDouble / p._2
    // a y-range predicate: the linear-by-x layout prunes NOTHING
    // (every file spans all y), the z layout reads only the files
    // whose y-bits intersect — structurally 4/16 for a 1/16 range
    val linY = ZOrderLayout.matchingRowGroups(s"$base/linear", yOnly)
    val zY = ZOrderLayout.matchingRowGroups(s"$base/zorder", yOnly)
    val unY = ZOrderLayout.matchingRowGroups(s"$base/unsorted", yOnly)
    assert(frac(linY) > 0.9, s"linear should span all y: $linY")
    assert(frac(unY) > 0.9, s"unsorted should span all y: $unY")
    assert(frac(zY) <= 0.45, s"z-order failed to prune on y: $zY")
    // the 2-D corner box: z reads a corner tile, unsorted reads all
    val zBox = ZOrderLayout.matchingRowGroups(s"$base/zorder", box)
    val unBox = ZOrderLayout.matchingRowGroups(s"$base/unsorted", box)
    assert(frac(unBox) > 0.9, s"unsorted should span the box: $unBox")
    assert(zBox._1 <= 2, s"z-order box should be ~1 tile: $zBox")
    // honest trade, pinned so nobody "fixes" it: linear beats z on its
    // OWN leading column (1 file vs ~4) — z is the multi-predicate
    // layout, not a strict upgrade
    val xOnly = Map("x" -> ((0L, 4095L)))
    val linX = ZOrderLayout.matchingRowGroups(s"$base/linear", xOnly)
    val zX = ZOrderLayout.matchingRowGroups(s"$base/zorder", xOnly)
    assert(linX._1 <= 2 && zX._1 >= linX._1, s"trade inverted: $linX $zX")
  }

  // The STORE face of the z-order layout (r14, the round-13 verdict's
  // "wire ZOrderLayout into a store"): a statement store created with
  // a z-order declaration keeps every file it ever writes internally
  // Morton-ordered on the declared columns — the MergeTree ORDER BY
  // analogue (engine.py:130), fixed at creation exactly like
  // ClickHouse's, carried by a stored __z sort key the readers never
  // see. Gates: (1) FINAL semantics are bit-identical to a canonical
  // twin store holding the same rows; (2) footer-measured row-group
  // pruning on a 2-D time box is ≥ 4× better than the twin's; (3) the
  // layout survives compact (which re-lays-out at corpus-global
  // bounds) and appends after creation.
  test("statement store z-order layout: FINAL unchanged, stored-table row groups prune >= 4x") {
    import spark.implicits._
    import graft.sources.ZOrderLayout
    Seq("zstore", "zstore_plain").foreach(dropTable)
    // 120k statements across 3 appends; first_seen and last_seen are
    // INDEPENDENT pseudo-random spreads (multiplicative hashing) over
    // one year so neither dim orders the other — the layout has to
    // earn its pruning
    val base = 1700000000L
    def batch(k: Int) = spark.range(40000)
      .select(
        concat(lit(s"s$k-"), col("id")).as("id"),
        concat(lit("e"), pmod(col("id"), lit(5000))).as("entity_id"),
        concat(lit("e"), pmod(col("id"), lit(5000))).as("canonical_id"),
        lit("name").as("prop"), lit("name").as("prop_type"),
        lit("Person").as("schema"),
        concat(lit("v"), col("id")).as("value"),
        lit("ds1").as("dataset"),
        timestamp_seconds(lit(base) +
          pmod(col("id") * 2654435761L + k, lit(31536000L))).as("first_seen"),
        timestamp_seconds(lit(base) +
          pmod(col("id") * 40503L + k * 7919L, lit(31536000L))).as("last_seen"))
    // 64 KiB row groups: the probe needs per-file granularity fine
    // enough to expose the z clustering (production files are GBs
    // with 128 MB groups — the same groups-per-file ratio)
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    (0 until 3).foreach { k =>
      StatementStore.append(batch(k), "zstore", buckets = 2,
        zorder = Some((Seq("first_seen", "last_seen"), 16)),
        writerOptions = opts)
      StatementStore.append(batch(k), "zstore_plain", buckets = 2,
        writerOptions = opts)
    }
    assert(ZOrderLayout.layoutOf(spark, "zstore")
      .contains((Seq("first_seen", "last_seen"), 16)))
    assert(ZOrderLayout.layoutOf(spark, "zstore_plain").isEmpty)
    // (1) FINAL parity: same logical rows, no __z anywhere
    def finalSet(t: String) = StatementStore.readFinal(spark, t)
      .collect().map(_.toSeq).toSet
    assert(!StatementStore.readFinal(spark, "zstore").columns.contains("__z"))
    assert(finalSet("zstore") == finalSet("zstore_plain"),
      "z layout changed FINAL semantics")
    // (2) pruning on the stored table, straight from the footers: a
    // ~6-week box on both time dims (micros — TIMESTAMP_MICROS files)
    def dirOf(t: String): String = {
      val f = spark.table(t).inputFiles.head
      new java.io.File(new java.net.URI(f)).getParent
    }
    val lo = (base + 100 * 86400L) * 1000000L
    val hi = (base + 142 * 86400L) * 1000000L
    val box = Map("first_seen" -> ((lo, hi)), "last_seen" -> ((lo, hi)))
    val zHit = ZOrderLayout.matchingRowGroups(dirOf("zstore"), box)
    val pHit = ZOrderLayout.matchingRowGroups(dirOf("zstore_plain"), box)
    assert(zHit._2 >= 8 && pHit._2 >= 8,
      s"need multiple row groups to measure: $zHit $pHit")
    info(s"stored-table box pruning: z=${zHit._1}/${zHit._2} " +
      s"plain=${pHit._1}/${pHit._2} row groups")
    assert(pHit._1 * 1L >= 4L * zHit._1.max(1),
      s"z pruning under 4x: z=$zHit plain=$pHit")
    // (2b) PAGE grain — the grain Spark's vectorized reader filters
    // at (column indexes → row ranges, intersected across the two
    // dims): the z store decodes a small fraction of the ROWS the
    // canonical store must
    val zRows = ZOrderLayout.matchingRows(dirOf("zstore"), box)
    val pRows = ZOrderLayout.matchingRows(dirOf("zstore_plain"), box)
    info(s"page-grain rows selected: z=${zRows._1}/${zRows._2} " +
      s"plain=${pRows._1}/${pRows._2}")
    assert(zRows._2 == pRows._2, "row totals must agree")
    assert(zRows._1 > 0, "the box must select something")
    assert(zRows._1 * 4 <= pRows._1,
      s"z page-grain under 4x: z=$zRows plain=$pRows")
    // (3) the layout survives compact (corpus-global re-layout) and
    // FINAL is still identical
    StatementStore.compact(spark, "zstore", buckets = 2,
      writerOptions = opts)
    assert(ZOrderLayout.layoutOf(spark, "zstore")
      .contains((Seq("first_seen", "last_seen"), 16)))
    assert(finalSet("zstore") == finalSet("zstore_plain"),
      "compact broke FINAL on the z store")
    val zHit2 = ZOrderLayout.matchingRowGroups(dirOf("zstore"), box)
    assert(zHit2._1 * 4L <= zHit2._2,
      s"post-compact layout lost its pruning: $zHit2")
    // (4) bloom filters — the POINT-LOOKUP half of the skip story
    // (r14, verdict item 7): the z layout deliberately scatters
    // canonical_id, so min/max can't serve an id probe; the id-column
    // bloom filters the store writes skip nearly every value-free row
    // group from the footer alone
    import graft.sources.BloomSkip
    val zdir = dirOf("zstore")
    val present = BloomSkip.skippableRowGroups(zdir, "canonical_id", "e123")
    val absent = BloomSkip.skippableRowGroups(zdir, "canonical_id", "e-nope")
    info(s"bloom skip: present id ${present._1}/${present._2}, " +
      s"absent id ${absent._1}/${absent._2} row groups skippable")
    assert(present._2 == present._3, s"row groups missing blooms: $present")
    assert(absent._1 * 100 >= absent._2 * 95,
      s"absent id should skip ~everything: $absent")
    assert(present._1 * 4 >= present._2 * 3,
      s"present id should skip >= 75%: $present")
    assert(present._1 < present._2,
      "the id's own row groups must survive the probe")
    // (5) probe-type vs column-physical-type mismatch (r14 advisor):
    // a Long probe on the BINARY canonical_id column must return the
    // documented conservative answer — covered but unproven — never
    // throw from parquet hash/decode internals
    val mismatch = BloomSkip.skippableRowGroups(zdir, "canonical_id", 42L)
    assert(mismatch._1 == 0 && mismatch._2 == mismatch._3,
      s"type mismatch must be covered-but-unproven: $mismatch")
  }

  // DocStore z-order (r15, verdict item 9): the creation-time layout
  // declaration extended from the statement store to the corpus store,
  // for the "recent high-quality docs" read shape — a time box AND a
  // score range, neither of which a doc_id sort can prune. Same
  // contract as the statement-store test above: declared once at
  // creation, recorded in table properties, honored by every append
  // and compact; FINAL semantics and the near-dup index unaffected.
  test("doc store z-order layout: FINAL unchanged, probe intact, row groups prune >= 4x") {
    import graft.sources.{DocStore, ZOrderLayout}
    Seq("zdocs", "zdocs_bands", "zdocs_plain", "zdocs_plain_bands")
      .foreach(dropTable)
    // 3 appends x 40k docs; ingest ts and quality score are INDEPENDENT
    // pseudo-random spreads over one year / [0, 100k) so neither dim
    // orders the other
    val base = 1700000000L
    // per-doc-unique words: no shingle is shared across docs, so the
    // band index stays one-candidate-per-probe (hot-key flooding would
    // test the cutoff, not the layout)
    def batch(k: Int) = spark.range(40000)
      .select(
        (col("id") + k * 40000L).as("doc_id"),
        concat(
          lit("a"), col("id") + k * 40000L,
          lit(" b"), col("id") + k * 40000L,
          lit(" c"), col("id") + k * 40000L,
          lit(" d"), col("id") + k * 40000L).as("text"),
        lit(s"src$k").as("source"),
        timestamp_seconds(lit(base) +
          pmod(col("id") * 2654435761L + k, lit(31536000L))).as("ts"),
        pmod(col("id") * 40503L + k * 7919L, lit(100000L)).as("score"))
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    (0 until 3).foreach { k =>
      DocStore.append(batch(k), "zdocs", buckets = 2,
        zorder = Some((Seq("ts", "score"), 16)), writerOptions = opts)
      DocStore.append(batch(k), "zdocs_plain", buckets = 2,
        writerOptions = opts)
    }
    // the declaration is recorded at creation and only there
    assert(ZOrderLayout.layoutOf(spark, "zdocs")
      .contains((Seq("ts", "score"), 16)))
    assert(ZOrderLayout.layoutOf(spark, "zdocs_plain").isEmpty)
    // (1) FINAL parity: same logical corpus, no __z anywhere
    def finalSet(t: String) = DocStore.readFinal(spark, t)
      .collect().map(_.toSeq).toSet
    assert(!DocStore.readFinal(spark, "zdocs").columns.contains("__z"))
    assert(finalSet("zdocs") == finalSet("zdocs_plain"),
      "z layout changed FINAL semantics")
    // (2) footer-measured pruning on a ~6-week time box x a 10% score
    // slice (ts files are TIMESTAMP_MICROS)
    def dirOf(t: String): String = {
      val f = spark.table(t).inputFiles.head
      new java.io.File(new java.net.URI(f)).getParent
    }
    val lo = (base + 100 * 86400L) * 1000000L
    val hi = (base + 142 * 86400L) * 1000000L
    val box = Map("ts" -> ((lo, hi)), "score" -> ((20000L, 30000L)))
    val zHit = ZOrderLayout.matchingRowGroups(dirOf("zdocs"), box)
    val pHit = ZOrderLayout.matchingRowGroups(dirOf("zdocs_plain"), box)
    assert(zHit._2 >= 8 && pHit._2 >= 8,
      s"need multiple row groups to measure: $zHit $pHit")
    info(s"doc-store box pruning: z=${zHit._1}/${zHit._2} " +
      s"plain=${pHit._1}/${pHit._2} row groups")
    assert(pHit._1 * 1L >= 4L * zHit._1.max(1),
      s"z pruning under 4x: z=$zHit plain=$pHit")
    // (3) the near-dup index is layout-independent: a re-delivered
    // copy of a stored doc is flagged identically by both stores
    val probe = batch(0).filter(col("doc_id") === 7L)
      .withColumn("doc_id", lit(999999L))
    def cand(t: String) = DocStore.nearDupCandidates(spark, t, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand("zdocs") == Set((7L, 999999L)))
    assert(cand("zdocs") == cand("zdocs_plain"))
    // (4) the layout survives compact (corpus-global re-layout) and
    // appends keep honoring it without the caller re-passing it
    DocStore.compact(spark, "zdocs", writerOptions = opts)
    assert(ZOrderLayout.layoutOf(spark, "zdocs")
      .contains((Seq("ts", "score"), 16)))
    assert(finalSet("zdocs") == finalSet("zdocs_plain"),
      "compact broke FINAL on the z doc store")
    val zHit2 = ZOrderLayout.matchingRowGroups(dirOf("zdocs"), box)
    assert(zHit2._1 * 4L <= zHit2._2,
      s"post-compact layout lost its pruning: $zHit2")
    // (5) point lookups still have an index on the z store: doc_id is
    // scattered by the z sort, so the id bloom is load-bearing
    import graft.sources.BloomSkip
    val absent = BloomSkip.skippableRowGroups(
      dirOf("zdocs"), "doc_id", 123456789L)
    assert(absent._1 * 100 >= absent._2 * 95,
      s"absent id should skip ~everything: $absent")
  }

  // GraphStore (r14): the summary-store fence applied to whole-graph
  // analytics — ranks/communities maintained at a refresh cadence and
  // SERVED from node-grain tables with the staleness VISIBLE. Gates:
  // served ≡ recompute at every refresh; appends change serves only at
  // refresh (as-of semantics, staleness reports the lag); a replayed
  // edge batch is absorbed structurally (the edge set is a SET); a
  // node takedown masks every serve immediately and refresh scrubs it
  // physically + retires the tombstones.
  test("graph store: served ≡ recompute, as-of staleness, replay immunity, takedown") {
    import spark.implicits._
    import graft.operators.PageRank
    import graft.sources.GraphStore
    Seq("gstore", "gstore_dels", "gstore_ranks", "gstore_communities",
      "gstore_cohesion", "gstore_kcore", "gstore_support")
      .foreach(dropTable)
    def rankMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("id"), col("r")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b1 = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")).toDF("src", "dst")
    GraphStore.append(b1, "gstore", ver = 1, buckets = 2)
    GraphStore.refresh(spark, "gstore", minSupport = 1L, kcoreK = 2L)
    val served1 = rankMap(GraphStore.ranks(spark, "gstore"))
    assert(served1 == rankMap(PageRank.ranks(
      GraphStore.edges(spark, "gstore"))), "served rank != recompute")
    val comm1 = GraphStore.communities(spark, "gstore")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the bridge c-x sits on no triangle: two truss communities
    assert(comm1 == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"), s"communities: $comm1")
    // cohesion is served from the same census: ≡ a perNode recompute
    def cohMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("node"), col("n_triangles")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cohMap(GraphStore.cohesion(spark, "gstore")) ==
      cohMap(graft.operators.Triangles
        .perNode(GraphStore.edges(spark, "gstore"))
        .select(col("node"), col("n_triangles"))),
      "served cohesion != census recompute")
    // k-core (r15): the fourth cohesion face, served ≡ a peel recompute
    def coreMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("node"), df.columns.filter(c => c == "core_degree"
        || c == "d").map(col).head).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(coreMap(GraphStore.kcore(spark, "gstore")) ==
      coreMap(graft.operators.KCore.membership(
        GraphStore.edges(spark, "gstore"), k = 2L, rounds = 10)),
      "served kcore != peel recompute")
    assert(coreMap(GraphStore.kcore(spark, "gstore")).nonEmpty)
    assert(GraphStore.staleness(spark, "gstore") == ((1L, 1L)))
    // appends change the EDGES immediately but serves only at refresh
    val b2 = Seq(("z", "w"), ("y", "w")).toDF("src", "dst")
    GraphStore.append(b2, "gstore", ver = 2, buckets = 2)
    assert(rankMap(GraphStore.ranks(spark, "gstore")) == served1,
      "serve moved before refresh")
    assert(GraphStore.staleness(spark, "gstore") == ((1L, 2L)))
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pinnedBefore = pinned()
    GraphStore.refresh(spark, "gstore", minSupport = 1L, kcoreK = 2L)
    assert(pinned() == pinnedBefore, "a refresh tick must leave nothing pinned")
    val served2 = rankMap(GraphStore.ranks(spark, "gstore"))
    assert(served2 == rankMap(PageRank.ranks(
      GraphStore.edges(spark, "gstore"))), "post-refresh serve != recompute")
    // this tick was APPEND-ONLY → the r15 DELTA census path ran (b2's
    // z-w/y-w edges close a NEW triangle (w,y,z) through the old y-z
    // edge); the patched support table and the cohesion derived from
    // it must equal from-scratch recomputes
    assert(spark.table("gstore_support")
      .select(col("a"), col("b"), col("support")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      graft.operators.Triangles.perEdge(GraphStore.edges(spark, "gstore"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      "delta-patched support != full census")
    assert(cohMap(GraphStore.cohesion(spark, "gstore")) ==
      cohMap(graft.operators.Triangles
        .perNode(GraphStore.edges(spark, "gstore"))
        .select(col("node"), col("n_triangles"))),
      "delta-tick cohesion != census recompute")
    // ... and the r15-continuation DELTA K-CORE path ran on the same
    // tick (stored k == kcoreK, no tombstones): w joins the 2-core
    // through the new w-y/w-z edges; the patched membership and
    // in-core degrees must equal a full peel
    assert(coreMap(GraphStore.kcore(spark, "gstore")) ==
      coreMap(graft.operators.KCore.membership(
        GraphStore.edges(spark, "gstore"), k = 2L, rounds = 10)),
      "delta-tick kcore != peel recompute")
    assert(coreMap(GraphStore.kcore(spark, "gstore")).contains("w"),
      "the joiner w must be served from the patched kcore")
    assert(served2.contains("w") && served2 != served1)
    assert(GraphStore.staleness(spark, "gstore") == ((2L, 2L)))
    // replayed batch: the edge set absorbs it structurally — the
    // refreshed ranks are bit-identical
    GraphStore.append(b2, "gstore", ver = 3, buckets = 2)
    assert(GraphStore.edges(spark, "gstore").count() == 9)
    GraphStore.refresh(spark, "gstore", minSupport = 1L, kcoreK = 2L)
    assert(rankMap(GraphStore.ranks(spark, "gstore")) == served2,
      "replayed batch moved the rank vector")
    assert(coreMap(GraphStore.kcore(spark, "gstore")) ==
      coreMap(graft.operators.KCore.membership(
        GraphStore.edges(spark, "gstore"), k = 2L, rounds = 10)),
      "replayed batch moved the kcore membership")
    // takedown: the popped node vanishes from EVERY face immediately
    // (edges, ranks, communities — even though the snapshots predate
    // the pop), refresh scrubs physically and retires the tombstones
    GraphStore.pop(spark, "gstore", Seq("x").toDF("id"))
    assert(!GraphStore.edges(spark, "gstore").collect()
      .exists(r => r.getString(0) == "x" || r.getString(1) == "x"))
    assert(!GraphStore.ranks(spark, "gstore").collect()
      .exists(_.getString(0) == "x"))
    assert(!GraphStore.communities(spark, "gstore").collect()
      .exists(_.getString(0) == "x"))
    assert(!GraphStore.cohesion(spark, "gstore").collect()
      .exists(_.getString(0) == "x"))
    assert(!GraphStore.kcore(spark, "gstore").collect()
      .exists(_.getString(0) == "x"))
    GraphStore.refresh(spark, "gstore", minSupport = 1L, kcoreK = 2L)
    assert(!spark.catalog.tableExists("gstore_dels"),
      "tombstones must retire at refresh")
    val served3 = rankMap(GraphStore.ranks(spark, "gstore"))
    assert(!served3.contains("x"))
    assert(served3 == rankMap(PageRank.ranks(
      GraphStore.edges(spark, "gstore"))), "post-pop serve != recompute")
    assert(coreMap(GraphStore.kcore(spark, "gstore")) ==
      coreMap(graft.operators.KCore.membership(
        GraphStore.edges(spark, "gstore"), k = 2L, rounds = 10)),
      "post-pop served kcore != peel recompute")
  }

  // Decoupled compaction (r15 continuation): an append-only tick
  // computes summaries WITHOUT rewriting a single edge file; compact()
  // is the explicit corpus-rewrite face and preserves each edge's
  // FIRST-SEEN ver (the invariant that keeps the delta splits exact
  // across rewrites); no-op and pure-replay ticks short-circuit before
  // any iteration round; a parameter change defeats the fast paths;
  // and a standalone compact with a pending takedown scrubs physically
  // but NEVER retires the tombstone (no resurrection window).
  test("graph store: decoupled compaction — file-stable ticks, replay/no-op fast paths, first-seen vers, scrub-never-retires") {
    import spark.implicits._
    import graft.operators.PageRank
    import graft.sources.GraphStore
    val t = "gstore2"
    Seq(t, s"${t}_dels", s"${t}_ranks", s"${t}_communities",
      s"${t}_cohesion", s"${t}_kcore", s"${t}_support").foreach(dropTable)
    def rankMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("id"), col("r")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def supportAsOf(): Long = spark.table(s"${t}_support")
      .agg(max(col("as_of"))).collect()(0).getLong(0)
    val b1 = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "x"))
      .toDF("src", "dst")
    GraphStore.append(b1, t, ver = 1, buckets = 2)
    val edgeFiles1 = spark.table(t).inputFiles.toSet
    GraphStore.refresh(spark, t, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(spark.table(t).inputFiles.toSet == edgeFiles1,
      "a summary tick must not rewrite edge files")
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t))),
      "tick serve != recompute")
    assert(GraphStore.staleness(spark, t) == ((1L, 1L)))
    // NO-OP tick: nothing changed — summaries untouched too
    val rankFiles1 = spark.table(s"${t}_ranks").inputFiles.toSet
    GraphStore.refresh(spark, t, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(spark.table(s"${t}_ranks").inputFiles.toSet == rankFiles1,
      "a no-op tick must not rewrite the summaries")
    // PURE-REPLAY tick: a batch lands but every edge already exists —
    // as_of catches up with no iteration rounds; the edge-grain
    // support table keeps its own snapshot stamp
    GraphStore.append(b1, t, ver = 2, buckets = 2)
    val sAsOf1 = supportAsOf()
    GraphStore.refresh(spark, t, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(GraphStore.staleness(spark, t) == ((2L, 2L)),
      "a replay tick must catch the as_of up")
    assert(supportAsOf() == sAsOf1,
      "a replay tick must not rewrite the edge-grain support table")
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t))),
      "replay-tick serve != recompute")
    // a REAL batch takes the normal delta tick (support restamped)
    val b2 = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    GraphStore.append(b2, t, ver = 3, buckets = 2)
    GraphStore.refresh(spark, t, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(supportAsOf() == 3L)
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t))),
      "delta-tick serve != recompute")
    // physical rows accumulated (b1 twice + b2); compact collapses
    // them, PRESERVES first-seen vers, keeps the watermark monotone
    assert(spark.table(t).count() == 11)
    GraphStore.compact(spark, t)
    assert(spark.table(t).count() == 7,
      "compact must collapse duplicate rows")
    val vers = spark.table(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(vers(("a", "b")) == 1L && vers(("x", "y")) == 3L,
      s"first-seen vers must survive compaction: $vers")
    assert(GraphStore.staleness(spark, t) == ((3L, 3L)),
      "the compact watermark must keep maxVer monotone")
    // the delta paths survive the rewrite: a post-compact batch still
    // ticks delta and equals the from-scratch recomputes
    val b3 = Seq(("z", "w"), ("y", "w")).toDF("src", "dst")
    GraphStore.append(b3, t, ver = 4, buckets = 2)
    GraphStore.refresh(spark, t, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(spark.table(s"${t}_support")
      .select(col("a"), col("b"), col("support")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      graft.operators.Triangles.perEdge(GraphStore.edges(spark, t))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      "post-compact delta support != full census")
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t))))
    // a parameter change defeats the replay fast path: replayed batch
    // + different iters must RECOMPUTE at the new params, not restamp
    GraphStore.append(b3, t, ver = 5, buckets = 2)
    GraphStore.refresh(spark, t, iters = 5, minSupport = 1L,
      kcoreK = 2L, compactEdges = false)
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t), iters = 5)),
      "a changed-params tick must recompute at the new params")
    // standalone compact with a pending takedown: scrubs physically,
    // NEVER retires (a stale rank table must stay masked); the next
    // COMPACTING refresh retires, and the scrub marker forces it full
    GraphStore.pop(spark, t, Seq("x").toDF("id"))
    GraphStore.compact(spark, t)
    assert(!spark.table(t).collect()
      .exists(r => r.getString(0) == "x" || r.getString(1) == "x"),
      "compact must scrub popped edges physically")
    assert(spark.catalog.tableExists(s"${t}_dels"),
      "standalone compact must not retire tombstones")
    assert(!GraphStore.ranks(spark, t).collect()
      .exists(_.getString(0) == "x"), "popped node must stay masked")
    GraphStore.refresh(spark, t, iters = 5, minSupport = 1L,
      kcoreK = 2L)
    assert(!spark.catalog.tableExists(s"${t}_dels"),
      "the compacting refresh must retire the tombstones")
    assert(rankMap(GraphStore.ranks(spark, t)) ==
      rankMap(PageRank.ranks(GraphStore.edges(spark, t), iters = 5)),
      "post-scrub full tick serve != recompute")
    assert(spark.table(s"${t}_support")
      .select(col("a"), col("b"), col("support")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      graft.operators.Triangles.perEdge(GraphStore.edges(spark, t))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      "post-scrub support != full census")
  }
}
